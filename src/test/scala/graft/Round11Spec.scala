package graft

import org.apache.spark.sql.functions._

/** Round-11 hardening: the compaction offline-op contract is enforced
  * (not just documented), and the fixed quality-signal byte accounting
  * holds on the corpus.
  */
class Round11Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("two-level cell assignment: total, deterministic, valid cells, " +
    "high agreement with flat assignment on a clustered corpus") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.{avg, col}
    // clustered corpus (the regime IVF exists for): 20k vectors, 127
    // planted clusters — same generator as ScaleBench's 10x point
    val dir = java.nio.file.Files.createTempDirectory("graft-hier").toString
    ScaleBench.clustered(spark, 20000, 127).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("emb")))
    val cells = Similarity.collectCells(
      Similarity.kmeansCentroids(e, Similarity.cellSeeds(e), 1))
    val h = Similarity.hierIndex(cells)
    // grouped arrays are a permutation of the flat centroid set
    assert(h.fineIds.sorted == cells.ids.sorted)
    assert(h.starts.head == 0 && h.starts.last == cells.ids.size)
    val assigned = Similarity.assignCellsHier(e, h)
      .select(col("vec_id"), col("cent_id"))
    val rows = assigned.collect()
    assert(rows.length == 20000 && rows.forall(!_.isNullAt(1)),
      "descent must assign every vector")
    val validIds = cells.ids.toSet
    assert(rows.forall(r => validIds.contains(r.getLong(1))))
    // deterministic across plans
    val again = assigned.collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // the DataFrame (codegen) result agrees with a direct call into the
    // shared descend loop — pins the generated glue (boxing, null
    // handling) to the interpreted algorithm
    locally {
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      def ga(xs: Seq[Double]) = new GenericArrayData(xs.toArray)
      def gaa(xss: Seq[Seq[Double]]) = new GenericArrayData(xss.map(ga).toArray)
      val assignedMap = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sample = e.filter(col("vec_id") < 100)
        .select(col("vec_id"), col("emb")).collect()
      assert(sample.nonEmpty)
      sample.foreach { r =>
        val idx = graft.functions.NearestCellHier.descend(
          ga(r.getSeq[Double](1)), gaa(h.coarseEmbs), ga(h.coarseNrms),
          new GenericArrayData(h.starts.toArray), gaa(h.fineEmbs),
          ga(h.fineNrms), 4)
        assert(idx != null && h.fineIds(idx) == assignedMap(r.getLong(0)),
          s"codegen/interpreted divergence for vec ${r.getLong(0)}")
      }
    }
    // greedy descent agrees with the flat argmax on nearly all vectors
    // of a clustered corpus (boundary vectors may differ — measured,
    // not assumed)
    val agree = Similarity.assignCells(e, cells).select(col("vec_id"), col("cent_id"))
      .join(assigned.select(col("vec_id"), col("cent_id").as("cent_id_h")), Seq("vec_id"))
      .agg(avg((col("cent_id") === col("cent_id_h")).cast("double")))
      .first().getDouble(0)
    assert(agree >= 0.9, f"hier/flat assignment agreement $agree%.4f below floor")
  }

  test("knnIvfHier returns the knn schema with sane recall vs brute force") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val got = Similarity.knnIvfHier(spark, sf)
    assert(got.columns.toSeq == Seq("query_id", "rnk", "neighbor_id", "cos"))
    val approx = got.select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.knnBruteForce(spark, sf)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty)
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, f"hier recall $recall%.2f below floor")
  }

  test("IvfIndex.build above the hier threshold: valid partitioned index, " +
    "queries keep the recall floor") {
    import graft.operators.{IvfIndex, Similarity}
    import org.apache.spark.sql.functions.col
    val path = java.nio.file.Files.createTempDirectory("graft-ivfhier").toString
    spark.conf.set(IvfIndex.HierAssignThresholdKey, "0") // force the descent
    try IvfIndex.build(spark, sf, path)
    finally spark.conf.unset(IvfIndex.HierAssignThresholdKey)
    // every vector present exactly once, every cell dir a real centroid
    val e = Similarity.emb(spark, sf)
    val assigned = spark.read.parquet(s"$path/assigned")
    assert(assigned.count() == e.count())
    assert(assigned.select(col("vec_id")).distinct().count() == e.count())
    val centIds = spark.read.parquet(s"$path/centroids")
      .select(col("cent_id")).collect().map(_.getLong(0)).toSet
    val usedIds = assigned.select(col("cent_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(usedIds.subsetOf(centIds))
    // search through the hier-assigned index holds the recall floor
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val got = IvfIndex.knn(spark, path, q)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.knnBruteForce(spark, sf)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(got).size.toDouble / exact.size
    assert(recall >= 0.5, f"hier-built index recall $recall%.2f below floor")
  }

  test("repeatedSpans: planted cross-doc copied span is covered exactly; " +
    "unique docs report zero") {
    import graft.operators.TextQueries
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // doc 1/2 share one 10-token span at different offsets; doc 3 is
    // fully unique; doc 4 repeats a span only WITHIN itself (df = 1 —
    // must not count, the signal is cross-doc)
    val span = (1 to 10).map(i => s"copy$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"one two three four $span"),
      (3L, (1 to 30).map(i => s"uniq$i").mkString(" ")),
      (4L, {
        val inner = (1 to 9).map(i => s"self$i").mkString(" ")
        s"$inner zzz $inner yyy"
      })).toDF("doc_id", "text")
    docs.createOrReplaceTempView("spans_fixture")
    val dir = java.nio.file.Files.createTempDirectory("graft-spans").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.repeatedSpans(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc1: positions of the 10 copied tokens (offsets 2..11 of 14)
    assert(out(1L) == ((14L, 10L)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((14L, 10L)), s"doc2: ${out(2L)}")
    assert(out(3L)._2 == 0L, "unique doc must report zero coverage")
    assert(out(4L)._2 == 0L, "within-doc repetition (df=1) must not count")
  }

  test("dupGroupKeepBest keeps the most complete member, ties to min id") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    // recount on the real corpus: every group's keep must be the
    // member with max tokens (ties min id) among its labeled members
    val labels = Dedup.connectedComponents(
      Dedup.ngramJaccardDups(spark, sf, 0.3))
    val toks = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val members = labels.join(toks, Seq("doc_id"))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2)))
      .groupBy(_._1)
    val got = Dedup.dupGroupKeepBest(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.nonEmpty && got.keySet == members.keySet)
    members.foreach { case (g, ms) =>
      val want = ms.map { case (_, id, n) => (n, -id) }.max
      val (nm, keepId, keepToks) = got(g)
      assert(nm == ms.size && keepId == -want._2 && keepToks == want._1,
        s"group $g: got ${got(g)}, members ${ms.toSeq.sortBy(_._2)}")
    }
  }

  test("stagedMaintenance fails fast under a pending .compact-commit marker") {
    import graft.streaming.EventStream
    val staged = java.nio.file.Files.createTempDirectory("graft-guard-src").toString
    Tables.load(spark, sf, "events")
      .select(col("ts"), col("event_type"), col("value"))
      .limit(100).repartition(1).write.mode("overwrite").parquet(staged)
    val parent = java.nio.file.Files.createTempDirectory("graft-guard").toString
    val path = s"$parent/daily"
    // run once to discover the staging dir name for this run key
    val ck = s"$parent/ck"
    val src = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
      .parquet(staged)
    val q = EventStream.maintainHistogram(src, path, Some(ck))
    try q.processAllAvailable() finally q.stop()
    val staging = new java.io.File(parent).listFiles()
      .map(_.toString).filter(_.contains("daily.batches-")).head
    // simulate a crashed compaction: pending commit marker, data in temp
    java.nio.file.Files.write(
      new java.io.File(staging, ".compact-commit").toPath,
      "batch=0\nbatch=0".getBytes("UTF-8"))
    // more input for a new micro-batch on the checkpoint-resumed stream
    Tables.load(spark, sf, "events")
      .select(col("ts"), col("event_type"), col("value"))
      .limit(50).repartition(1).write.mode("append").parquet(staged)
    val src2 = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
      .parquet(staged)
    val q2 = EventStream.maintainHistogram(src2, path, Some(ck))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("pending compaction")),
      s"expected the offline-op guard, got: $e")
  }
}
