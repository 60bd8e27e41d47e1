package graft

import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, Similarity}

class IvfIndexSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("knnIndexed equals knnIvf exactly (same seeds, Lloyd step, probes)") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivfspec").toString
    IvfIndex.build(spark, sf, path)
    val q = Similarity.emb(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val indexed = IvfIndex.knn(spark, path, q).collect().toSeq
    val direct = Similarity.knnIvf(spark, sf, kmeansIters = 1).collect().toSeq
    assert(indexed.nonEmpty && indexed == direct,
      s"indexed=${indexed.take(3)} direct=${direct.take(3)}")
  }

  test("knnIndexed at kmeansIters=2 equals the ad-hoc knnIvf(kmeansIters=2)") {
    // q_knn_ivf_kmeans serves from the persisted 2-iteration grid; the
    // cache must be a pure amortization, never a semantic change
    val indexed = operators.IvfIndex.knnIndexed(spark, sf, kmeansIters = 2)
      .collect().toSeq
    val direct = Similarity.knnIvf(spark, sf, kmeansIters = 2).collect().toSeq
    assert(indexed.nonEmpty && indexed == direct,
      s"indexed=${indexed.take(3)} direct=${direct.take(3)}")
  }

  test("insert folds new vectors in without rewriting existing files; " +
    "an inserted vector is immediately findable at cosine 1") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivfins").toString
    val e = Similarity.emb(spark, sf)
    IvfIndex.build(spark, sf, path)
    val assignedDir = new java.io.File(s"$path/assigned")
    def parquetFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(assignedDir).map(f => f.getPath -> f.lastModified).toMap
    }
    val before = parquetFiles()
    val baseCount = spark.read.parquet(s"$path/assigned").count()

    // delta: copies of three existing vectors under fresh high ids —
    // guarantees an exact-match neighbor exists for each
    val delta = e.filter(col("vec_id") < 3)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("emb"),
        col("label"), col("nrm"))
    IvfIndex.insert(spark, path, delta)

    val after = parquetFiles()
    assert(before.forall { case (p, m) => after.get(p).contains(m) },
      "insert rewrote pre-existing files")
    assert(spark.read.parquet(s"$path/assigned").count() == baseCount + 3)

    // each original vector now finds its inserted twin at cosine 1.0
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val top = IvfIndex.knn(spark, path, q, k = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    (0L until 3L).foreach { id =>
      assert(top(id) == ((id + 1000000L, 1.0)),
        s"query $id should find inserted twin, got ${top(id)}")
    }
  }

  test("indexed knn scan is partition-pruned to the probed cells") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivfspec2").toString
    IvfIndex.build(spark, sf, path)
    // few queries so probed cells (≤ 3 × nprobe) stay well under the
    // corpus's ~√n cell count and the prune is demonstrable
    val q = Similarity.emb(spark, sf).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val result = IvfIndex.knn(spark, path, q)
    result.collect() // finalize the adaptive plan before inspecting it
    // the assigned scan must carry a non-empty PartitionFilters entry
    // on cent_id — the static prune is the entire point of the build.
    // Post-collect the AdaptiveSparkPlan stringifies its FINAL plan
    // (tree traversal can't reach it: AdaptiveSparkPlanExec has no
    // children), and the INSET list prints truncated, so match the
    // filter's head only.
    // small probe sets print as `IN (...)`, larger as `INSET ...` —
    // match the common prefix
    val plan = result.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cent_id#\\d+ IN".r.findFirstIn(plan).isDefined,
      s"no cent_id IN/INSET PartitionFilters in plan:\n$plan")
    // and the prune must actually reduce I/O: the probed cell set is a
    // strict subset of the partition directories on disk
    val totalCells = new java.io.File(s"$path/assigned")
      .listFiles().count(_.getName.startsWith("cent_id="))
    assert(totalCells > 3 * 4,
      s"corpus too small to demonstrate pruning ($totalCells cells)")
  }

  test("q_knn_ivf_indexed entry runs and has the knn schema") {
    val df = SparkEntry.queries("q_knn_ivf_indexed")(spark, sf)
    assert(df.columns.toSeq == Seq("query_id", "rnk", "neighbor_id", "cos"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.foreach { case (_, rs) => assert(rs.length <= 5) }
  }

  test("delete tombstones hide vectors immediately; compact removes them " +
    "physically, rewrites only touched cells, and preserves results") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-ivfdel").toString
    IvfIndex.build(spark, sf, path)
    val e = Similarity.emb(spark, sf)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    // delete every neighbor the baseline top-1 returns — the strongest
    // visibility test: those exact ids must vanish from the results
    val baseline = IvfIndex.knn(spark, path, q, k = 1).collect()
    val delIds = baseline.map(_.getLong(2)).distinct.toSeq
    IvfIndex.delete(spark, path, delIds.toDF("vec_id"))

    val afterDelete = IvfIndex.knn(spark, path, q, k = 5).collect()
    assert(afterDelete.nonEmpty)
    assert(!afterDelete.exists(r => delIds.contains(r.getLong(2))),
      "tombstoned vector surfaced as a neighbor")

    // untouched cells' files must survive compaction byte-untouched
    val assignedDir = new java.io.File(s"$path/assigned")
    def files() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(assignedDir).map(f => f.getPath -> f.lastModified).toMap
    }
    val touched = spark.read.parquet(s"$path/assigned")
      .filter(col("vec_id").isInCollection(delIds))
      .select(col("cent_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val before = files()
    IvfIndex.compact(spark, path)
    val after = files()
    val untouchedBefore = before.filterNot { case (p, _) =>
      touched.exists(c => p.contains(s"cent_id=$c")) }
    assert(untouchedBefore.forall { case (p, m) => after.get(p).contains(m) },
      "compaction rewrote an untouched cell")
    // physically gone + tombstone dir cleared
    assert(spark.read.parquet(s"$path/assigned")
      .filter(col("vec_id").isInCollection(delIds)).count() == 0)
    assert(!new java.io.File(s"$path/deleted").exists())
    // identical answers before and after physical removal
    val afterCompact = IvfIndex.knn(spark, path, q, k = 5).collect()
    assert(afterCompact.toSeq == afterDelete.toSeq,
      "compaction changed query results")
  }

  test("driver probe ranker equals probeCellsRanked on a NaN score and " +
    "a -0.0/0.0 score tie") {
    import spark.implicits._
    // scores against q = (1, 0), |q| = 1: cell 1 -> 0.0 / -1 = -0.0,
    // cell 2 -> 0.0 (a tie with cell 1 under Spark's sort), cell 3 ->
    // NaN (a degenerate centroid; first under Spark's desc sort), cell
    // 4 -> 1.0, cell 5 -> 1/sqrt(2). A zero-norm centroid would score
    // 0/0: the driver ranks that NaN first too, but Spark's ANSI
    // division raises DIVIDE_BY_ZERO in probeCellsRanked, so it cannot
    // be compared here
    val cells = Similarity.CellIndex(Seq(1L, 2L, 3L, 4L, 5L),
      Seq(Seq(0.0, 1.0), Seq(0.0, 1.0), Seq(Double.NaN, 0.0), Seq(1.0, 0.0),
        Seq(1.0, 1.0)),
      Seq(-1.0, 1.0, 1.0, 1.0, math.sqrt(2.0)))
    val q = Seq((7L, Seq(1.0, 0.0), 1.0)).toDF("query_id", "q_emb", "q_nrm")
    (1 to 5).foreach { np =>
      val ranked = Similarity.probeCellsRanked(q, cells, np)
        .select(col("cent_id"), col("p_rnk")).collect()
        .sortBy(_.getInt(1)).map(_.getLong(0)).toSeq
      val driver = Similarity.rankProbes(Seq(1.0, 0.0), 1.0, cells, np)
      assert(driver == ranked, s"nprobe=$np: driver=$driver spark=$ranked")
    }
    assert(Similarity.rankProbes(Seq(1.0, 0.0), 1.0, cells, 5) == Seq(3L, 4L, 5L, 1L, 2L))
  }

  /** Writes `rows` as `<dir>/embeddings.parquet` and runs `body(dir)`. */
  private def withEmbeddings[T](rows: Seq[(Long, Seq[Float])])(body: String => T): T = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-ivfzero").toFile
    try {
      rows.map { case (id, v) => (id, v, (id % 3).toInt) }.toDF("vec_id", "embedding", "label")
        .write.parquet(s"${d.getPath}/embeddings.parquet")
      body(d.getPath)
    } finally operators.ArtifactCache.deleteRecursively(d)
  }

  /** (vec_id, pmod(xxhash64(vec_id), m)) for vec_id 0..399: the seed
    * test of [[Similarity.cellSeeds]] at stride m. */
  private def seedResidues(m: Long): Seq[(Long, Long)] =
    spark.range(0, 400).select(col("id"), pmod(xxhash64(col("id")), lit(m))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("a zero-norm centroid: driver probes equal probeCellsRanked's for nprobe 1..5") {
    // 25 rows seed 5 cells at the ids where pmod(xxhash64(vec_id), 5)
    // = 0. The lowest seed id holds the all-zero vector: a zero-norm
    // query, and, with no Lloyd step (which would drop its empty cell),
    // a zero-norm centroid
    val ids = seedResidues(5)
    val seeds = ids.filter(_._2 == 0).map(_._1).take(5)
    val rnd = new scala.util.Random(7)
    val rows = (seeds ++ ids.filter(_._2 != 0).map(_._1).take(20)).sorted.map { id =>
      id -> (if (id == seeds.min) Seq.fill(8)(0.0f) else Seq.fill(8)(rnd.nextFloat() - 0.5f))
    }
    withEmbeddings(rows) { dir =>
      val (_, cells) = Similarity.ivfParts(spark, dir, kmeansIters = 0)
      assert(cells.ids.size == 5 && cells.nrms.contains(0.0), s"cells ${cells.nrms}")
      // every row queries, the zero vector among them
      val q = Similarity.emb(spark, dir)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
      val queries = q.collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      assert(queries.exists(_._3 == 0.0), "no zero-norm query")
      (1 to 5).foreach { np =>
        val ranked = Similarity.probeCellsRanked(q, cells, np)
          .select(col("query_id"), col("cent_id"), col("p_rnk")).collect()
          .groupBy(_.getLong(0)).map { case (k, rs) =>
            k -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
        queries.foreach { case (id, qe, qn) =>
          val driver = Similarity.rankProbes(qe, qn, cells, np)
          assert(ranked(id) == driver, s"query $id nprobe=$np: driver=$driver spark=${ranked(id)}")
        }
      }
    }
  }

  test("knnIvf answers when its Lloyd step trains a zero-norm centroid") {
    // one cell (maxCells 1, one row at the seed residue) over five
    // (v, -v) pairs: the Lloyd mean of the cell is exactly zero, while
    // every corpus vector and query has a non-zero norm
    val ids = seedResidues(10)
    val seed = ids.find(_._2 == 0).get._1
    val rnd = new scala.util.Random(11)
    val vs = Seq.fill(5)(Seq.fill(8)(rnd.nextFloat() - 0.5f))
    val rows = (seed +: ids.filter(_._2 != 0).map(_._1).take(9))
      .zip(vs.flatMap(v => Seq(v, v.map(-_))))
    withEmbeddings(rows) { dir =>
      val (_, cells) = Similarity.ivfParts(spark, dir, maxCells = 1)
      assert(cells.nrms == Seq(0.0), s"cells ${cells.nrms}")
      val knn = Similarity.knnIvf(spark, dir, maxCells = 1).collect()
      assert(knn.nonEmpty)
    }
  }
}
