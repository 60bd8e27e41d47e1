package graft

import org.apache.spark.sql.functions._

/** Round-15 specs: pagerank checkpoint-block lifecycle (the r14 bench
  * leak), warm-start pagerank (identical fixed point, fewer
  * iterations), and the seed pin-protection contract.
  */
class Round15Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def convergedAt(): Option[Int] = Option(
    spark.sparkContext.getLocalProperty("graft.pagerank.converged_at"))
    .map(_.toInt)

  /** Pin the DISTRIBUTED pagerank plan for lifecycle tests: the
    * checkpoint-block assertions below are about the distributed
    * loop's machinery, which the r19 driver cutover skips entirely on
    * the tiny spec graphs. */
  private def forceDistributed[T](body: => T): T =
    withConf(graft.operators.DriverCutover.MaxRowsKey -> "0")(body)

  // --- checkpoint lifecycle: the r14 leak is closed -------------------

  test("pageRank frees every superseded checkpoint: after a run, only " +
    "the handed-off final's blocks remain; the next run frees those too") {
    import graft.operators.Graphs
    forceDistributed {
    val r1 = Graphs.pageRank(spark, sf, iters = 7) // 5+2: it0 + 2 chunks + out
    r1.count()
    val ids1 = Graphs.lastRunCheckpointIds
    assert(ids1.size == 4, s"expected it0+2 chunks+out, got $ids1")
    val live1 = spark.sparkContext.getPersistentRDDs.keySet
    val (dead, handed) = (ids1.init, ids1.last)
    assert(dead.forall(id => !live1.contains(id)),
      s"superseded checkpoints still persisted: ${dead.filter(live1.contains)}")
    assert(live1.contains(handed),
      "the result-backing checkpoint must stay alive for the caller")
    // the result stays CONSUMABLE after the loop's internal frees
    assert(r1.count() == r1.collect().length)

    // a second run frees the first's handoff at entry
    val r2 = Graphs.pageRank(spark, sf, iters = 2)
    r2.count()
    val live2 = spark.sparkContext.getPersistentRDDs.keySet
    assert(!live2.contains(handed),
      "previous run's handed-off checkpoint must be freed at next entry")
    assert(live2.contains(Graphs.lastRunCheckpointIds.last))
    Graphs.releaseResults()
    assert(!spark.sparkContext.getPersistentRDDs.keySet
      .contains(Graphs.lastRunCheckpointIds.last),
      "releaseResults must free the last handoff")
    }
  }

  test("pageRank driver cutover matches the distributed loop exactly " +
    "(cold, 3 and 7 iterations)") {
    import graft.operators.Graphs
    val drv3 = Graphs.pageRank(spark, sf, iters = 3).collect().toSeq
    val drv7 = Graphs.pageRank(spark, sf, iters = 7).collect().toSeq
    val (dist3, dist7) = forceDistributed {
      (Graphs.pageRank(spark, sf, iters = 3).collect().toSeq,
        Graphs.pageRank(spark, sf, iters = 7).collect().toSeq)
    }
    assert(drv3 == dist3, "3-iteration driver/distributed ranks differ")
    assert(drv7 == dist7, "7-iteration driver/distributed ranks differ")
    Graphs.releaseResults()
  }

  // --- warm start: exact continuation on the REAL graph ---------------

  test("pageRankWarm seeded with the k-iteration iterate continues " +
    "bit-exactly: warm(seed=cold(3), 4 more) == cold(7)") {
    import graft.operators.Graphs
    val cold3 = Graphs.pageRank(spark, sf, iters = 3)
    cold3.count() // materialize before it becomes a (pinned) seed
    val warm = Graphs.pageRankWarm(spark, sf, cold3, iters = 4)
    val warmRows = warm.collect().toSeq // consume before any later run frees it
    val cold7 = Graphs.pageRank(spark, sf, iters = 7).collect().toSeq
    assert(warmRows == cold7,
      "the update is deterministic, so seeding with iterate 3 and running " +
        "4 more must equal the 7-iteration unroll node for node")
    Graphs.releaseResults()
  }

  // --- warm start: same fixed point, fewer iterations -----------------
  // The sf supply graph never reaches a strict integer fixed point
  // (PLANS.md: ±1-unit cycling), so the convergence claims are proven
  // on a synthetic hub-of-cliques graph that DOES converge exactly.

  private def cliqueEdges(sizes: Seq[Int]): Seq[(String, String)] = {
    val e = scala.collection.mutable.ListBuffer.empty[(String, String)]
    sizes.zipWithIndex.foreach { case (sz, ci) =>
      val ids = (0 until sz).map(i => s"c${ci}n$i")
      for (a <- ids; b <- ids if a < b) { e += ((a, b)); e += ((b, a)) }
      e += ((s"c${ci}n0", "hub")); e += (("hub", s"c${ci}n0"))
    }
    e.toSeq
  }

  test("pageRankWarm on a perturbed graph converges to the IDENTICAL " +
    "integer fixed point as a cold run, in fewer executed iterations") {
    import spark.implicits._
    import graft.operators.Graphs
    val all = cliqueEdges(Seq.tabulate(30)(i => 3 + i % 6))
    val base = all.toDF("src", "dst")
    // perturb WITHOUT changing the node count (teleport unchanged):
    // drop one edge inside clique 0 — a LOCAL delta, so yesterday's
    // ranks are already near the new fixed point
    val pert = all.filterNot { case (a, b) =>
      Set(a, b) == Set("c0n1", "c0n2") }.toDF("src", "dst")

    val cold0 = Graphs.run(spark, base, 300, None)
    cold0.count()
    assert(convergedAt().isDefined, "base graph must reach an exact fixed point")

    val warm = Graphs.run(spark, pert, 300, Some(cold0))
    val warmRows = warm.collect().toSeq
    val warmIters = convergedAt()
    assert(warmIters.isDefined, "warm run must reach the fixed point")

    val coldP = Graphs.run(spark, pert, 300, None)
    val coldPRows = coldP.collect().toSeq
    val coldIters = convergedAt()
    assert(coldIters.isDefined, "cold perturbed run must reach the fixed point")

    assert(warmRows == coldPRows,
      "the fixed point is start-independent: warm and cold runs on the " +
        "perturbed graph must agree node for node")
    assert(warmIters.get < coldIters.get,
      s"warm start must save iterations: warm=$warmIters cold=$coldIters")
    Graphs.releaseResults()
  }

  // --- capped distinct aggregation (the media-exact df gate) ----------

  test("CappedDistinctAggregator: exact sorted sets under the cap; " +
    "over-cap groups stop at cap+1 elements; equals collect_set gating") {
    import spark.implicits._
    import org.apache.spark.sql.functions.udaf
    val cap = 4
    val capped = udaf(new graft.functions.CappedDistinctAggregator(cap))
    // group g1: 3 distinct (under cap, with duplicates); g2: exactly cap;
    // g3: cap+3 distinct (over cap — must be detected, not fully built)
    val rows = Seq.tabulate(3)(i => ("g1", i.toLong)) ++
      Seq(("g1", 1L), ("g1", 2L)) ++
      Seq.tabulate(4)(i => ("g2", 10L + i)) ++
      Seq.tabulate(7)(i => ("g3", 100L + i))
    // many partitions so merge() paths are exercised
    val df = rows.toDF("g", "id").repartition(8)
    val got = df.groupBy($"g").agg(capped($"id").as("ms"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got("g1") == Seq(0L, 1L, 2L), s"under-cap must be exact: ${got("g1")}")
    assert(got("g2") == Seq(10L, 11L, 12L, 13L))
    assert(got("g3").size == cap + 1,
      s"over-cap groups must stop at cap+1 (provably droppable): ${got("g3")}")
    assert(got("g3") == got("g3").sorted && got("g3").distinct == got("g3"))
    // the operator-level equivalence: size-gated capped agg == size-gated
    // collect_set (the contract mediaNearDupsExact relies on)
    import org.apache.spark.sql.functions.{collect_set, size => asize, array_sort}
    val viaCollect = df.groupBy($"g")
      .agg(array_sort(collect_set($"id")).as("ms"))
      .filter(asize($"ms") <= cap)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val viaCapped = got.filter(_._2.size <= cap)
    assert(viaCapped == viaCollect)
  }

  // --- IVF + SQ8 sidecar + exact rerank --------------------------------

  test("knnSq8Rerank equals the plain full-precision IVF search at the " +
    "same probe width: quantization only orders the pool, never the result") {
    import graft.operators.{IvfIndex, Similarity}
    val plain = {
      val path = IvfIndex.ensureIndex(spark, sf)
      val q = Similarity.emb(spark, sf).filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm"))
      IvfIndex.knn(spark, path, q, k = 5, nprobe = 32).collect().toSeq
    }
    val sq8 = IvfIndex.knnSq8Rerank(spark, sf, k = 5, nprobe = 32).collect().toSeq
    assert(sq8.nonEmpty && sq8 == plain,
      s"sq8=${sq8.take(3)} plain=${plain.take(3)}")
  }

  test("sq8 sidecar lifecycle: insert appends the quantized delta; " +
    "compact drops the sidecar so physically-removed vectors cannot " +
    "resurface from stale quantized rows") {
    import graft.operators.{ArtifactCache, IvfIndex, Similarity}
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-sq8spec").toString
    IvfIndex.build(spark, sf, path)
    val e = Similarity.emb(spark, sf)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    // builds the sidecar on first demand
    IvfIndex.knnSq8RerankAt(spark, path, q, 5, 32, 50).count()
    assert(ArtifactCache.isDone(s"$path-sq8"), "sidecar must be published")

    // insert a twin of vector 0 under a fresh id: the sidecar append
    // must make it visible to the QUANTIZED stage too (cosine 1 twin
    // always survives the pool into the exact rerank)
    val delta = e.filter(col("vec_id") === 0)
      .select(lit(1000000L).as("vec_id"), col("emb"), col("label"), col("nrm"))
    IvfIndex.insert(spark, path, delta)
    val withTwin = IvfIndex.knnSq8RerankAt(spark, path, q, 5, 32, 50)
      .filter(col("query_id") === 0 && col("neighbor_id") === 1000000L)
      .collect()
    assert(withTwin.length == 1 && withTwin(0).getAs[Double]("cos") == 1.0,
      "inserted twin must be quantized-probe-visible at cosine 1")

    // tombstone + compact the twin: the sidecar is derived state and
    // must be dropped (a stale quantized row would resurrect the
    // vector once the tombstones are cleared), then rebuild on demand
    IvfIndex.delete(spark, path, Seq(1000000L).toDF("vec_id"))
    IvfIndex.compact(spark, path)
    assert(!ArtifactCache.isDone(s"$path-sq8"),
      "compact must invalidate the quantized sidecar")
    val after = IvfIndex.knnSq8RerankAt(spark, path, q, 5, 32, 50)
      .filter(col("neighbor_id") === 1000000L).collect()
    assert(after.isEmpty, "compacted vector must not resurface")
    ArtifactCache.deleteRecursively(new java.io.File(path))
    ArtifactCache.deleteRecursively(new java.io.File(s"$path-sq8"))
  }

  // --- spectral audio feature: amplitude robustness ---------------------

  test("spectral audio feature survives amplitude rescaling: a 75%-gain " +
    "excerpt still matches its source track at the full coherent vote " +
    "(the byte-energy feature this replaced was destroyed by ANY gain " +
    "change: sum mod 256 scrambles under scaling)") {
    import spark.implicits._
    import graft.operators.AudioMatch
    val w = AudioMatch.FrameLen
    val payload = ToneAudio.payload(0 until 16)
    val track = Seq((1L, payload)).toDF("track_id", "pcm")
    // scale the excerpt BYTES about the PCM midpoint — gain applied to
    // the raw samples, not regenerated tones, so this is exactly what
    // a re-encoded/re-leveled copy looks like
    val lo = AudioMatch.ClipOffFrames * w
    val clean = payload.substring(lo, lo + AudioMatch.ClipFrames * w)
    val scaled = clean.map(c => (128 + math.round(0.75 * (c - 128))).toChar)
    val clip = Seq((100L, scaled)).toDF("clip_id", "cpcm")
    val got = AudioMatch.allCoherentMatches(
        AudioMatch.trackLandmarks(track), clip).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((100L, 1L, AudioMatch.ClipOffFrames.toLong,
      AudioMatch.FullVote.toLong)),
      s"scaled excerpt must keep every landmark: ${got.toSeq}")
  }

  // --- image perceptual hash (dHash) -----------------------------------

  /** Independent plain-Scala dHash re-derivation (the spec's own
    * restatement of the kernel's definition). */
  private def refDhash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val px = new Array[Long](63)
    bytes.zipWithIndex.foreach { case (b, j) =>
      px((j.toLong * 63 / n).toInt) += b & 0xFF }
    (0 until 56).map { b =>
      val i = (b / 8) * 9 + (b % 8)
      if (px(i) > px(i + 1)) 1L << b else 0L
    }.sum
  }

  test("image dHash equals an independent in-test recompute on every " +
    "image payload; blocked near-dups equal brute-force Hamming <= 3 " +
    "(pigeonhole exactness, recall 1.0)") {
    import graft.operators.PerceptualHash
    val texts = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 3 === 0 && length(col("text")) > 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).getBytes("UTF-8")).toMap
    val want = texts.map { case (id, b) => id -> refDhash(b) }
    val got = PerceptualHash.imagePhash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, {
      val bad = got.keys.find(k => got(k) != want(k))
      s"dHash diverges from the reference recompute at id $bad"
    })
    assert(got.nonEmpty)
    // brute-force Hamming <= 3 over the reference hashes (NO df cap:
    // prove the cap dropped nothing on this corpus, then compare)
    val ids = want.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      h = java.lang.Long.bitCount(want(ids(i)) ^ want(ids(j)))
      if h <= PerceptualHash.MaxHamming
    } yield (ids(i), ids(j), h.toLong)).toSet
    val blocked = PerceptualHash.imageNearDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked == brute,
      s"pigeonhole blocking must be exact: missing=${(brute -- blocked).take(3)} " +
        s"extra=${(blocked -- brute).take(3)}")
  }

  test("video excerpt matching: every clip resolves to its source video " +
    "with the full 6-frame coherent vote; frame hashes equal an " +
    "independent per-chunk dHash recompute") {
    import graft.operators.{Multimodal, PerceptualHash}
    val rows = PerceptualHash.videoMatches(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.nonEmpty, "fixture produced no video clips")
    // the winner always carries the FULL coherent vote (the source
    // video guarantees that score exists); winner identity follows the
    // audio caveat — the corpus plants byte-identical duplicates, and
    // the (votes, video_id, offset) tie-break resolves to the
    // smallest-id copy, so a foreign winner is only ever a SMALLER id
    assert(rows.forall { case (clip, video, votes) =>
      votes == PerceptualHash.VClipLen.toLong && video <= clip },
      s"winner must hold the full vote and never a larger id: " +
        s"${rows.filterNot(r => r._3 == PerceptualHash.VClipLen.toLong || r._2 > r._1).take(3).toSeq}")
    // frame hashes vs the spec's own recompute over frameSample chunks
    val media = Multimodal.mediaTable(spark, sf).filter(col("kind") === "video")
    val want = Multimodal.frameSample(spark, media, PerceptualHash.VideoFrames)
      .select(col("media_id"), col("frame_idx"), col("frame")).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong) ->
        refDhash(r.getAs[Array[Byte]](2))).toMap
    import graft.functions.VectorFunctions
    val got = Multimodal.frameSample(spark, media, PerceptualHash.VideoFrames)
      .select(col("media_id"), col("frame_idx").cast("long"),
        VectorFunctions.dhash56(col("frame"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want, "frame dHash diverges from the in-test recompute")
  }

  test("image dHash is brightness-invariant: scaling every pixel by a " +
    "positive gain leaves the gradient-sign hash bit-identical (an " +
    "absolute-value fingerprint would scramble)") {
    import graft.functions.ImageHash
    // synthetic 'image': 630 bytes with a deterministic non-flat
    // pattern, then a 50% gain applied byte-wise
    val base = Array.tabulate(630)(j =>
      (40 + 80 * math.sin(j / 17.0) + (j % 13) * 3).toInt.toByte)
    val dimmed = base.map(b => ((b & 0xFF) / 2).toByte)
    assert(ImageHash.dhash56(base) == ImageHash.dhash56(dimmed),
      "a 50%-gain copy must keep the exact dHash")
    assert(ImageHash.dhash56(base) != 0L, "fixture must not be gradient-flat")
  }

  // --- drift fixture must not re-pin session conf ----------------------

  test("buildDriftedCorpus restores spark.sql.parquet.outputTimestampType " +
    "to UNSET when it was never set (not to a pinned fallback)") {
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      val tmp = java.nio.file.Files.createTempDirectory("graft-drift-conf").toString
      graft.sources.SchemaDrift.buildDriftedCorpus(spark, "/root/testdata/sf0.001", tmp)
      graft.operators.ArtifactCache.deleteRecursively(new java.io.File(tmp))
      // an unset conf must STAY unset: Spark's built-in default is INT96,
      // and pinning TIMESTAMP_MICROS would silently change the physical
      // encoding of every later parquet write in the session
      assert(spark.conf.getOption(key).isEmpty ||
        spark.conf.getOption(key).contains("INT96"),
        s"conf must not be pinned after the fixture build: ${spark.conf.getOption(key)}")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => if (spark.conf.getOption(key).isDefined) spark.conf.unset(key)
    }
  }

  test("pageRank clears a stale converged_at: a non-converging run after " +
    "a converged one must not report the old iteration count") {
    import spark.implicits._
    import graft.operators.Graphs
    val g = cliqueEdges(Seq(3, 4, 5)).toDF("src", "dst")
    Graphs.run(spark, g, 300, None).count()
    assert(convergedAt().isDefined)
    // 2 iterations is far short of this graph's fixed point
    Graphs.run(spark, g, 2, None).count()
    assert(convergedAt().isEmpty,
      "stale converged_at from the previous run must be cleared at entry")
    Graphs.releaseResults()
  }
}
