package graft

import org.apache.spark.sql.functions._

import graft.operators.{ArtifactCache, Dedup, DriverCutover, Graphs, IvfIndex, Multimodal,
  PerceptualHash, Similarity}

/** Round-16 specs: linear-output media dup groups (map-side forest
  * contraction), the persisted/incremental video frame index +
  * caller-supplied clip batches, the incremental image chunk index
  * (rebuild equivalence + cap-crossing eviction), warm-started
  * connected components, routed IVF search, the torn-sidecar recovery,
  * the empty-corpus gate guard, and the multi-leaf seed pin.
  */
class Round16Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // --- media dup groups: same closure as CC over the pair operator ----

  test("mediaDupGroups equals connected components over the exact pair " +
    "operator's output (same relation, linear-output encoding)") {
    val pairs = Multimodal.mediaNearDupsExact(spark, sf)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    val want = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Multimodal.mediaDupGroups(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "fixture corpus must contain media dup groups")
    assert(got == want,
      s"group labels diverge: ${(got.toSet diff want.toSet).take(3)}")
    // canonical-member contract: every group id IS a member of its group
    assert(got.values.toSet.subsetOf(got.keySet))
  }

  test("localForest preserves connectivity and absorbs duplicate pairs: " +
    "CC over the per-partition forest == CC over the raw pair set") {
    import spark.implicits._
    // two cliques bridged by a chain, heavy duplication, many partitions
    val cliq = for {
      base <- Seq(0L, 100L); a <- 0L until 6L; b <- (a + 1) until 6L
    } yield (base + a, base + b)
    val chain = Seq((5L, 50L), (50L, 51L), (51L, 100L))
    val raw = (cliq ++ chain ++ cliq ++ cliq) // duplicates on purpose
      .toDF("doc_a", "doc_b").repartition(7)
    val viaForest = Dedup.connectedComponents(Dedup.localForest(raw))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = Dedup.connectedComponents(raw)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaForest == direct)
    // one component: everything reaches min id 0
    assert(viaForest.values.toSet == Set(0L))
    // the forest is member-proportional, not pair-proportional
    val forestRows = Dedup.localForest(raw).count()
    assert(forestRows < raw.count(),
      s"forest ($forestRows) must contract the duplicated pair stream (${raw.count()})")
    // iterated contraction (cap=1 forces every pass, alternating
    // repartition keys) preserves connectivity exactly
    val contracted = Dedup.contractedForest(raw, cap = 1)
    val viaContracted = Dedup.connectedComponents(contracted)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    contracted.unpersist()
    assert(viaContracted == direct,
      "contractedForest must preserve the component structure")
  }

  // --- warm-started connected components -------------------------------

  test("connectedComponentsWarm on an appended pair set: identical labels " +
    "to a cold run, in fewer propagation rounds") {
    import spark.implicits._
    def rounds(): Int = Option(spark.sparkContext
      .getLocalProperty(Dedup.CcRoundsProperty)).map(_.toInt).getOrElse(-1)
    // old graph: a 0–5 chain and a 6–10 chain (two components)
    val oldPairs = ((0L until 5L).map(i => (i, i + 1)) ++
      (6L until 10L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    // a cap of 0 forces the distributed propagation every time
    withConf(DriverCutover.MaxRowsKey -> "0") {
    val seed = Dedup.connectedComponents(oldPairs)
    val seedRows = seed.collect()
    assert(seedRows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      .values.toSet == Set(0L, 6L))
    // delta APPENDS the bridging edge — the append-only contract
    val newPairs = oldPairs.union(Seq((5L, 6L)).toDF("doc_a", "doc_b"))
    val warm = Dedup.connectedComponentsWarm(newPairs,
      seedRows.map(r => (r.getLong(0), r.getLong(1))).toSeq
        .toDF("doc_id", "group_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val warmRounds = rounds()
    val cold = Dedup.connectedComponents(newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val coldRounds = rounds()
    assert(warm == cold, "warm labels must equal the cold fixpoint")
    assert(warm.values.toSet == Set(0L), "bridged graph is one component")
    assert(warmRounds > 0 && coldRounds > 0)
    assert(warmRounds < coldRounds,
      s"warm start must save rounds: warm=$warmRounds cold=$coldRounds")
    }
  }

  // --- video: persisted/incremental index ------------------------------

  test("videoMatchesIndexed (build half + insert half) is row-identical " +
    "to the ad-hoc matcher, and the probe DPP-prunes index buckets") {
    val adhoc = PerceptualHash.videoMatches(spark, sf).collect().toSeq
    val indexed = PerceptualHash.videoMatchesIndexed(spark, sf)
    val indexedRows = indexed.collect().toSeq
    assert(adhoc.nonEmpty && indexedRows == adhoc,
      s"indexed=${indexedRows.take(3)} adhoc=${adhoc.take(3)}")
    // layout contract (the audio matchClipsIndexed plan spec): postings
    // scanned through partition filters on the bucket column, pruned
    // dynamically by the probe's runtime key set
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"),
      "frame-index scan must expose partition filters on kb")
    assert(plan.contains("dynamicpruning"),
      "probe must dynamically prune frame-index buckets (DPP not planned)")
    assert(!plan.contains("CartesianProduct"))
  }

  test("video index rebuild equivalence: one-shot build over all frames " +
    "answers identically to the incremental build+insert artifact") {
    val path = java.nio.file.Files.createTempDirectory("graft-videoidx-spec").toString
    try {
      PerceptualHash.buildVideoIndex(spark,
        PerceptualHash.videoFrames(spark, sf), path)
      val oneShot = PerceptualHash.matchAgainstVideo(spark, path,
        PerceptualHash.derivedClips(spark, sf)).collect().toSeq
      val incremental = PerceptualHash.videoMatchesIndexed(spark, sf)
        .collect().toSeq
      assert(oneShot.nonEmpty && oneShot == incremental)
    } finally ArtifactCache.deleteRecursively(new java.io.File(path))
  }

  test("caller-supplied clip batch: an externally re-brightened (2x gain) " +
    "excerpt batch matches exactly like the corpus-derived clips — the " +
    "dHash gradient-sign feature is gain-invariant") {
    import spark.implicits._
    // the corpus is ASCII (bytes <= 127), so a 2x gain is EXACT integer
    // arithmetic: every cell sum doubles, every comparison is preserved
    val bright = PerceptualHash.derivedClips(spark, sf)
      .as[(Long, Long, Array[Byte])]
      .map { case (c, j, f) => (c, j, f.map(b => (b * 2).toByte)) }
      .toDF("clip_id", "j", "frame")
    val got = PerceptualHash.videoMatches(spark, sf, bright).collect().toSeq
    val want = PerceptualHash.videoMatches(spark, sf).collect().toSeq
    assert(got.nonEmpty && got == want,
      "a re-brightened external batch must produce the identical verdicts")
  }

  // --- image: incremental chunk index ----------------------------------

  test("imageNearDupsIndexed (build half + insert half) is row-identical " +
    "to the one-shot pair operator") {
    val adhoc = PerceptualHash.imageNearDups(spark, sf).collect().toSeq
    val indexed = PerceptualHash.imageNearDupsIndexed(spark, sf).collect().toSeq
    assert(indexed == adhoc, s"indexed=${indexed.take(3)} adhoc=${adhoc.take(3)}")
    assert(adhoc.nonEmpty, "fixture must contain image near-dups")
  }

  test("image chunk index: a chunk bucket crossing MaxChunkDf after an " +
    "insert is EVICTED at query time (no stored file touched), and the " +
    "incremental index equals a from-scratch rebuild") {
    import spark.implicits._
    val h1 = 0x00F0F0F0F0F0F0L // arbitrary 56-bit pattern
    val h2 = h1 ^ 0x7L         // 3 bits flipped inside chunk 0
    val g1 = 0x00123456789ABCL
    val g2 = g1 ^ 0x3L         // hamming 2 — an unaffected control pair
    val base = Seq((1L, h1), (2L, h2), (5L, g1), (6L, g2)).toDF("media_id", "phash")
    val path = java.nio.file.Files.createTempDirectory("graft-imgidx-spec").toString
    val path2 = java.nio.file.Files.createTempDirectory("graft-imgidx-spec2").toString
    try {
      PerceptualHash.buildImageIndex(spark, base, path)
      val before = PerceptualHash.imageNearDupsAgainst(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(before == Set((1L, 2L), (5L, 6L)), s"got $before")
      // insert MaxChunkDf + 1 copies of h1: every h1 chunk bucket (and
      // the three h2 shares with it) crosses the cap — (1,2) must stop
      // matching; h2's own chunk-0 bucket stays under cap but holds no
      // partner; (5,6) is untouched
      val flood = (100L until (100L + PerceptualHash.MaxChunkDf + 1))
        .map(i => (i, h1)).toDF("media_id", "phash")
      PerceptualHash.insertImages(spark, path, flood)
      val after = PerceptualHash.imageNearDupsAgainst(spark, path).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == Set((5L, 6L)),
        s"over-cap chunks must be evicted from blocking: $after")
      // rebuild equivalence: one-shot build over base + flood
      PerceptualHash.buildImageIndex(spark, base.union(flood), path2)
      val rebuilt = PerceptualHash.imageNearDupsAgainst(spark, path2).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rebuilt == after,
        "summed partials must equal the from-scratch chunk dfs")
    } finally {
      ArtifactCache.deleteRecursively(new java.io.File(path))
      ArtifactCache.deleteRecursively(new java.io.File(path2))
    }
  }

  test("AudioMatch.compactKeyDf applies verbatim to the video and image " +
    "index keydf layouts: partials fold to one file, probes identical") {
    import graft.operators.AudioMatch
    import spark.implicits._
    def parts(p: String): Int = Option(new java.io.File(s"$p/keydf").listFiles())
      .toSeq.flatten.count(f => f.isFile && f.getName.endsWith(".parquet"))
    // video: build + insert leaves >= 2 df partials
    val vp = java.nio.file.Files.createTempDirectory("graft-vcompact").toString
    val ip = java.nio.file.Files.createTempDirectory("graft-icompact").toString
    try {
      val frames = PerceptualHash.videoFrames(spark, sf)
      PerceptualHash.buildVideoIndex(spark,
        frames.filter(col("video_id") % 2 === 0), vp)
      PerceptualHash.insertVideoFrames(spark, vp,
        frames.filter(col("video_id") % 2 === 1))
      val clips = PerceptualHash.derivedClips(spark, sf)
      val beforeV = PerceptualHash.matchAgainstVideo(spark, vp, clips)
        .collect().toSeq
      assert(parts(vp) >= 2, "insert must append a second df partial")
      AudioMatch.compactKeyDf(spark, vp)
      assert(parts(vp) == 1, "compaction must fold the partials to one file")
      assert(PerceptualHash.matchAgainstVideo(spark, vp, clips)
        .collect().toSeq == beforeV, "compaction must be probe-identical")
      // image: same lifecycle on the chunk index
      val h1 = 0x00ABCDEF012345L
      PerceptualHash.buildImageIndex(spark,
        Seq((1L, h1), (2L, h1 ^ 0x5L)).toDF("media_id", "phash"), ip)
      PerceptualHash.insertImages(spark,
        ip, Seq((7L, 0x00112233445566L)).toDF("media_id", "phash"))
      val beforeI = PerceptualHash.imageNearDupsAgainst(spark, ip)
        .collect().toSeq
      assert(parts(ip) >= 2)
      AudioMatch.compactKeyDf(spark, ip)
      assert(parts(ip) == 1)
      assert(PerceptualHash.imageNearDupsAgainst(spark, ip)
        .collect().toSeq == beforeI)
    } finally {
      ArtifactCache.deleteRecursively(new java.io.File(vp))
      ArtifactCache.deleteRecursively(new java.io.File(ip))
    }
  }

  // --- routed IVF search ------------------------------------------------

  test("knnRouted returns exactly the rows of the branch recommendPlan " +
    "picked, and records the routing decision") {
    val plan = Similarity.recommendPlan(spark, sf)
    val routed = Similarity.knnRouted(spark, sf).collect().toSeq
    val decision = Option(spark.sparkContext
      .getLocalProperty(Similarity.RoutedPlanProperty))
    assert(decision.exists(_.contains(s"nprobe=${plan.nprobe}")),
      s"routing decision must be observable: $decision")
    val direct =
      if (plan.sq8Rerank)
        IvfIndex.knnSq8Rerank(spark, sf, 5, plan.nprobe, plan.rerank)
      else IvfIndex.knnIndexed(spark, sf, 5, plan.nprobe)
    assert(routed.nonEmpty && routed == direct.collect().toSeq)
    // and the router's recall claim holds against the exact top-k
    val brute = Similarity.bruteGroundTruth(spark, sf, 5).toSet
    val got = routed
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall =
      if (brute.isEmpty) 1.0 else brute.intersect(got).size.toDouble / brute.size
    assert(recall >= 0.9 || recall == plan.recall,
      s"measured recall $recall vs plan ${plan.recall}")
  }

  // --- torn sq8 sidecar: crash between the two insert appends -----------

  test("a sidecar missing an insert delta (crash between the assigned and " +
    "sidecar appends) is detected by row count and rebuilt — the inserted " +
    "vector stays visible to the two-stage search") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-torn-sq8").toString
    try {
      IvfIndex.build(spark, sf, path)
      val e = Similarity.emb(spark, sf)
      val q = e.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm"))
      IvfIndex.knnSq8RerankAt(spark, path, q, 5, 32, 50).count() // publish sidecar
      assert(ArtifactCache.isDone(s"$path-sq8"))
      // simulate the torn insert: append a twin of vector 0 to
      // assigned/ ONLY (what a crash between insert()'s two writes
      // leaves behind — the sidecar's done marker stays valid)
      val cells = Similarity.collectCells(
        spark.read.parquet(s"$path/centroids"))
      val delta = e.filter(col("vec_id") === 0)
        .select(lit(3000000L).as("vec_id"), col("emb"), col("label"), col("nrm"))
      Similarity.assignCells(delta, cells)
        .write.mode("append").partitionBy("cent_id").parquet(s"$path/assigned")
      // the torn state is inherited from a CRASHED PREVIOUS process —
      // simulate the restart (the per-JVM validation memo would
      // otherwise rightly skip the recount)
      IvfIndex.forgetSidecarValidation(path)
      // the next two-stage query must NOT silently omit the twin: the
      // count check drops the stale sidecar and rebuilds from assigned/
      val twin = IvfIndex.knnSq8RerankAt(spark, path, q, 5, 32, 50)
        .filter(col("neighbor_id") === 3000000L).collect()
      assert(twin.length == 1 && twin(0).getAs[Double]("cos") == 1.0,
        "torn-sidecar delta must be recovered, not silently dropped")
      assert(spark.read.parquet(s"$path-sq8/assigned_sq8").count() ==
        spark.read.parquet(s"$path/assigned").count(),
        "rebuilt sidecar must cover every assigned row")
    } finally {
      ArtifactCache.deleteRecursively(new java.io.File(path))
      ArtifactCache.deleteRecursively(new java.io.File(s"$path-sq8"))
    }
  }

  // --- empty-corpus count gate: no NPE ----------------------------------

  test("mediaNearDupsExact with a forced count gate over an EMPTY corpus " +
    "returns empty instead of NPE-ing on null sums") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-empty-media").toString
    try {
      Seq.empty[(Long, String)].toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val out = Multimodal.mediaNearDupsExactGated(spark, tmp,
        0.99, 64, gateBytes = 0L, keepFraction = 0.5)
      assert(out.count() == 0)
    } finally ArtifactCache.deleteRecursively(new java.io.File(tmp))
  }

  // --- multi-leaf warm seed pin ------------------------------------------

  test("a pageRank warm seed composed of TWO handed-off results keeps " +
    "BOTH backing checkpoints alive through the entry release") {
    import spark.implicits._
    val edges = (for {
      base <- Seq(0, 10); a <- 0 until 4; b <- (a + 1) until 4
    } yield (s"n${base + a}", s"n${base + b}"))
      .flatMap(e => Seq(e, e.swap)).toDF("src", "dst")
    // pin the DISTRIBUTED plan: this test is about checkpoint-handoff
    // machinery, which the r19 driver cutover skips on a cold run
    withConf(DriverCutover.MaxRowsKey -> "0") {
    val r1 = Graphs.run(spark, edges, 2, None); r1.count()
    val r2 = Graphs.run(spark, edges, 2, Some(r1)); r2.count()
    // seed derived from BOTH previous outputs: its analyzed plan has two
    // LogicalRDD leaves, and entry release must pin them both (a
    // first-leaf-only pin frees r2's blocks and the it0 join dies on
    // missing checkpoint data)
    val seed = r1.unionByName(r2)
      .groupBy(col("node")).agg(max(col("rank_fp")).as("rank_fp"))
    val r3 = Graphs.run(spark, edges, 2, Some(seed))
    assert(r3.count() > 0, "seeded run over a two-leaf seed must execute")
    Graphs.releaseResults()
    }
  }
}
