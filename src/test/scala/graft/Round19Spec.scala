package graft

import org.apache.spark.sql.functions._
import graft.operators.{ArtifactCache, AudioMatch, Dedup, DriverCutover, IndexStore, IvfIndex,
  MediaGroupsInc, Multimodal, PerceptualHash, Similarity, Takedown}

/** Round-19 specs: the victim-scoped takedown re-closure — deletes
  * re-run connected components ONLY on components containing a victim
  * or an added-pair endpoint; every other component keeps its labels
  * verbatim — plus the all-victim-flood edge of the group state
  * (footerless wins tree at the next compaction).
  */
class Round19Spec extends SparkSpec {

  private def blk16(c: Char) = c.toString * 16

  private def toMedia(sq: Seq[(Long, String)]) = {
    import spark.implicits._
    sq.toDF("media_id", "text")
      .select(col("media_id"), encode(col("text"), "UTF-8").as("content"))
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def closurePath(): String =
    spark.sparkContext.getLocalProperty(MediaGroupsInc.DelClosureProperty)

  // component X is a chain 1-2-{3,4}: window A pairs (1,2), window B
  // pairs {2,3,4} — deleting 2 SPLITS it (1 drops out pairless, {3,4}
  // survives under a NEW min label 3). Component K = {10,11} never
  // touches a victim and must keep its labels verbatim through the
  // scoped path.
  private val splitCorpus = Seq(
    1L -> (blk16('A') + blk16('u')), 2L -> (blk16('A') + blk16('B')),
    3L -> (blk16('B') + blk16('v')), 4L -> (blk16('B') + blk16('w')),
    10L -> (blk16('C') + blk16('y')), 11L -> (blk16('C') + blk16('z')))

  test("victim-scoped re-closure: deleting a cut vertex splits its " +
    "component exactly (new min labels), untouched components keep " +
    "labels verbatim, and the delete takes the scoped path") {
    val st = java.nio.file.Files.createTempDirectory("graft-r19-split").toString
    val dir = java.nio.file.Files.createTempDirectory("graft-r19-corp").toString
    def oneShotOver(docs: Seq[(Long, String)]): Map[Long, Long] = {
      import spark.implicits._
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      labelsOf(Multimodal.mediaDupGroups(spark, dir, threshold = 0.0))
    }
    try {
      MediaGroupsInc.ingest(spark, st, toMedia(splitCorpus), threshold = 0.0)
      assert(labelsOf(MediaGroupsInc.currentLabels(spark, st)) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
      val got = labelsOf(MediaGroupsInc.delete(spark, st, Seq(2L),
        threshold = 0.0))
      assert(closurePath() == "scoped",
        s"delete with readable previous labels must take the scoped path: " +
          s"got ${closurePath()}")
      // the split: 1 pairless (gone), {3,4} relabel to their new min;
      // K verbatim — exactly the one-shot over the survivors
      val expect = Map(3L -> 3L, 4L -> 3L, 10L -> 10L, 11L -> 10L)
      assert(got == expect, s"got $got")
      assert(got == oneShotOver(splitCorpus.filterNot(_._1 == 2L)),
        "delete ≡ one-shot over survivors")
      // crash inside the swap window (no readable labels generation):
      // the next delete must fall back to the full cold closure and
      // still land on the rebuild answer
      val gen = Option(new java.io.File(s"$st/labels").listFiles()).toSeq
        .flatten.filter(_.getName.startsWith("gen=")).maxBy(_.getName)
      ArtifactCache.deleteRecursively(gen)
      val got2 = labelsOf(MediaGroupsInc.delete(spark, st, Seq(4L),
        threshold = 0.0))
      assert(closurePath() == "cold",
        "a missing labels generation must cold-start the closure")
      assert(got2 == Map(10L -> 10L, 11L -> 10L), s"got $got2")
      assert(got2 == oneShotOver(splitCorpus.filterNot(d =>
        Seq(2L, 4L).contains(d._1))))
    } finally Seq(st, dir).foreach(p =>
      ArtifactCache.deleteRecursively(new java.io.File(p)))
  }

  test("all-victim flood: deleting the entire catalog leaves an empty " +
    "(footerless) wins tree; probes answer empty, compactState still " +
    "prunes hv instead of failing schema inference, audit is clean") {
    import spark.implicits._
    val st = java.nio.file.Files.createTempDirectory("graft-r19-flood").toString
    try {
      MediaGroupsInc.ingest(spark, st, toMedia(splitCorpus), threshold = 0.0)
      val everyone = splitCorpus.map(_._1)
      val got = labelsOf(MediaGroupsInc.delete(spark, st, everyone,
        threshold = 0.0))
      assert(got.isEmpty, s"no survivors can carry a label: $got")
      assert(!ArtifactCache.hasVisibleParquet(new java.io.File(s"$st/wins")),
        "the flood must empty the wins tree")
      // the ADVICE edge: hv-prune-due + a footerless wins tree made
      // compactState fail schema inference before the guard
      assert(new java.io.File(s"$st/.hv-prune-due").exists())
      MediaGroupsInc.compactState(spark, st)
      assert(!new java.io.File(s"$st/.hv-prune-due").exists())
      assert(labelsOf(MediaGroupsInc.currentLabels(spark, st)).isEmpty)
      val audit = Takedown.verifyErased(spark, Takedown.MediaGroups, st,
        everyone.toDF("media_id")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(audit.values.forall(_ == (0L, 0L)),
        s"post-flood post-compaction audit must be all-zero: $audit")
      // the state stays usable: a fresh ingest rebuilds groups
      val revived = labelsOf(MediaGroupsInc.ingest(spark, st,
        toMedia(Seq(100L -> (blk16('D') + blk16('p')),
          101L -> (blk16('D') + blk16('q')))), threshold = 0.0))
      assert(revived == Map(100L -> 100L, 101L -> 100L), s"got $revived")
    } finally ArtifactCache.deleteRecursively(new java.io.File(st))
  }

  // --- reliable-checkpoint iteration cuts ---------------------------------

  test("connectedComponents above the reliable-cut threshold: labels are " +
    "identical through the reliable-checkpoint and localCheckpoint paths " +
    "at sf0.1, on both the propagation and star-contraction shapes") {
    import spark.implicits._
    val sf01 = "/root/testdata/sf0.1"
    // a REAL pair relation at sf0.1: the minhash near-dup pairs
    val sh = Dedup.shingleHashes(
      graft.Tables.load(spark, sf01, "documents").select(col("doc_id"), col("text")))
    val pairs = Dedup.lshCandidates(Dedup.minhashSignatures(sh))
    // a cap of 0 forces the distributed propagation path — the only
    // place iteration cuts exist
    def labelsWith(reliableCutEdges: String): Map[Long, Long] =
      withConf(Dedup.ReliableCutEdgesKey -> reliableCutEdges, DriverCutover.MaxRowsKey -> "0") {
        Dedup.connectedComponents(pairs)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    val local = labelsWith(Long.MaxValue.toString)
    val reliable = labelsWith("1")
    assert(local.nonEmpty && local == reliable,
      s"paths diverge: ${(local.toSet diff reliable.toSet).take(3)}")
    // chain shape → the starContract fallback, through both cut kinds
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    def chainLabels(cut: String): Map[Long, Long] =
      withConf(Dedup.ReliableCutEdgesKey -> cut, DriverCutover.MaxRowsKey -> "0") {
        Dedup.connectedComponents(chain, maxIter = 2)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    val want = (1L to 60L).map(_ -> 1L).toMap
    assert(chainLabels(Long.MaxValue.toString) == want)
    assert(chainLabels("1") == want)
  }

  // --- the end-to-end sweep: "remove content X everywhere" ---------------

  test("takedown sweep: one victim rule (% 7 == 3) deleted across all " +
    "seven stores through the facade; every probe family is blind to the " +
    "victims immediately; after compaction verifyErased reads all-zero " +
    "in every store") {
    import spark.implicits._
    val sfd = "/root/testdata/sf0.001"
    val dirs = Seq.fill(7)(
      java.nio.file.Files.createTempDirectory("graft-r19-sweep").toString)
    val Seq(vPath, iPath, aPath, shPath, ivfPath, gPath, tPath) = dirs
    try {
      val docs = graft.Tables.load(spark, sfd, "documents")
      val vicDoc = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      val vicIds = vicDoc.select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
      assert(vicIds.nonEmpty)
      def vicFrame(name: String) = vicIds.toSeq.sorted.toDF(name)
      def auditAllZero(m: Takedown.Modality, p: String,
          ids: org.apache.spark.sql.DataFrame): Unit = {
        val rows = Takedown.verifyErased(spark, m, p, ids).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        assert(rows.values.forall(_ == (0L, 0L)),
          s"$m at $p must audit all-zero after the sweep: $rows")
      }

      // --- build the seven stores off the shared id space (audio uses
      // synthetic tone tracks — the corpus' PCM derivation is private —
      // with the SAME victim rule over its track ids)
      PerceptualHash.buildVideoIndex(spark,
        PerceptualHash.videoFrames(spark, sfd), vPath)
      PerceptualHash.buildImageIndex(spark,
        PerceptualHash.imagePhash(spark, sfd), iPath)
      val tracks = (1L to 14L).map(i =>
        (i, ToneAudio.payload((0 until 8).map(j => ((i * 8 + j) % 56).toInt))))
        .toDF("track_id", "pcm")
      AudioMatch.buildIncremental(spark, tracks, aPath)
      val audioVics = (1L to 14L).filter(_ % 7 == 3)
      Dedup.buildShingleStore(spark,
        docs.select(col("doc_id"), col("text")), shPath)
      IvfIndex.build(spark, sfd, ivfPath)
      val embVics = Similarity.emb(spark, sfd)
        .filter(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      MediaGroupsInc.ingest(spark, gPath, Multimodal.mediaTable(spark, sfd)
        .select(col("media_id"), col("content")))
      val lines = docs.select(col("doc_id").cast("int").as("file_id"),
        col("text").as("value"))
      IndexStore.materialize(lines, tPath)

      // --- one sweep through the facade
      Takedown.delete(spark, Takedown.VideoFrames, vPath, vicFrame("video_id"))
      Takedown.delete(spark, Takedown.ImageChunks, iPath, vicFrame("media_id"))
      Takedown.delete(spark, Takedown.AudioLandmarks, aPath,
        audioVics.toDF("track_id"))
      Takedown.delete(spark, Takedown.TextShingles, shPath, vicFrame("doc_id"))
      Takedown.delete(spark, Takedown.IvfVectors, ivfPath,
        embVics.toSeq.sorted.toDF("vec_id"))
      Takedown.delete(spark, Takedown.MediaGroups, gPath, vicFrame("media_id"))
      Takedown.delete(spark, Takedown.TextIndex, tPath,
        lines.filter(pmod(col("file_id"), lit(7)) === 3))

      // --- every probe family blind to the victims, pre-compaction
      val vclips = PerceptualHash.derivedClips(spark, sfd)
      assert(!PerceptualHash.matchAgainstVideo(spark, vPath, vclips).collect()
        .exists(r => vicIds.contains(r.getAs[Long]("video_id"))))
      assert(!PerceptualHash.imageNearDupsAgainst(spark, iPath).collect()
        .exists(r => vicIds.contains(r.getLong(0)) ||
          vicIds.contains(r.getLong(1))))
      // the victim track's own clip matched before — it must not now
      val clip3 = tracks.filter(col("track_id") === 3L)
        .select(col("track_id").as("clip_id"),
          substring(col("pcm"), 1, 6 * AudioMatch.FrameLen).as("cpcm"))
      assert(!AudioMatch.matchAgainst(spark, aPath, clip3).collect()
        .exists(r => audioVics.contains(r.getLong(1))))
      assert(Dedup.liveShinglePostings(spark, shPath)
        .filter(col("doc_id").isin(vicIds.toSeq: _*)).count() == 0)
      val q = Similarity.emb(spark, sfd).filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm"))
      assert(!IvfIndex.knn(spark, ivfPath, q).collect()
        .exists(r => embVics.contains(r.getLong(2))))
      assert(!MediaGroupsInc.currentLabels(spark, gPath).collect()
        .exists(r => vicIds.contains(r.getLong(0))))
      assert(IndexStore.load(spark, tPath)
        .filter(arrays_overlap(col("file_ids"),
          typedlit(vicIds.map(_.toInt).toArray))).count() == 0)

      // --- compact everywhere, then the compliance pass: all-zero
      Seq((Takedown.VideoFrames, vPath), (Takedown.ImageChunks, iPath),
        (Takedown.AudioLandmarks, aPath), (Takedown.TextShingles, shPath),
        (Takedown.IvfVectors, ivfPath), (Takedown.MediaGroups, gPath),
        (Takedown.TextIndex, tPath))
        .foreach { case (m, p) => Takedown.compact(spark, m, p) }
      auditAllZero(Takedown.VideoFrames, vPath, vicFrame("id"))
      auditAllZero(Takedown.ImageChunks, iPath, vicFrame("id"))
      auditAllZero(Takedown.AudioLandmarks, aPath, audioVics.toDF("id"))
      auditAllZero(Takedown.TextShingles, shPath, vicFrame("id"))
      auditAllZero(Takedown.IvfVectors, ivfPath,
        embVics.toSeq.sorted.toDF("id"))
      auditAllZero(Takedown.MediaGroups, gPath, vicFrame("id"))
      auditAllZero(Takedown.TextIndex, tPath, vicFrame("id"))
    } finally dirs.foreach(p =>
      ArtifactCache.deleteRecursively(new java.io.File(p)))
  }
}
