package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DriverCutover, Similarity}

class DedupSimilaritySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("canonicalMap: canonical_id <= doc_id, non-dups map to self") {
    Dedup.canonicalMap(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) <= r.getLong(0))
      if (r.getLong(2) == 0) assert(r.getLong(1) == r.getLong(0))
    }
  }

  test("minhash LSH and exact ngram-jaccard agree on high-similarity pairs") {
    val mh = Dedup.minhashNearDups(spark, sf, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact pairwise jaccard (3-shingles) over all pairs via the ngram path
    // with a permissive candidate df-cap: every >=0.9 pair must be in both
    val exact = Dedup.ngramJaccardDups(spark, sf, threshold = 0.5, maxDf = 1000)
    val strong = exact.filter(col("jaccard") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.nonEmpty, "testdata should contain planted near-dups")
    assert(strong.subsetOf(mh), s"LSH missed strong pairs: ${strong.diff(mh)}")
  }

  test("simhash near-dups overlap minhash near-dups on strong pairs") {
    val sh = Dedup.simhashNearDups(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashNearDups(spark, sf, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.nonEmpty && mh.nonEmpty)
    val overlap = sh.intersect(mh).size.toDouble / mh.size
    assert(overlap >= 0.5, s"simhash/minhash overlap only $overlap")
  }

  test("connectedComponents equals driver-side union-find; chains close transitively") {
    import spark.implicits._
    // planted chain: pairs (1,2)(2,3)(3,4) + isolated pair (10,11) —
    // transitive closure must fuse the chain even though (1,4) is no pair
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L))
    assert(got(10L) == 10L && got(11L) == 10L)

    // real minhash pairs: CC result == brute-force union-find
    val pairs = Dedup.minhashNearDups(spark, sf, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    val cc = Dedup.connectedComponents(
        Dedup.minhashNearDups(spark, sf, threshold = 0.5).select(col("doc_a"), col("doc_b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == want, "CC labels differ from union-find ground truth")
  }

  test("connectedComponents: driver cutover and distributed propagation agree") {
    // default cap routes the small graph through the driver union-find;
    // cap 0 forces the distributed min-label propagation — labels must
    // be identical, including chains that only close transitively
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (5L, 5L))
      .toDF("doc_a", "doc_b")
    val viaDriver = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPropagation = withConf(DriverCutover.MaxRowsKey -> "0") {
      Dedup.connectedComponents(chain).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(viaDriver == viaPropagation, "the two CC paths disagree")

    val pairs = Dedup.minhashNearDups(spark, sf, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    val a = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = withConf(DriverCutover.MaxRowsKey -> "0") {
      Dedup.connectedComponents(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(a == b, "CC paths disagree on real minhash pairs")
  }

  test("connectedComponents: long chain exhausts plain propagation, star-contraction fallback closes it") {
    import spark.implicits._
    // a 200-node chain has diameter 199: min-label propagation moves
    // the min one hop per round, so maxIter=3 can NOT converge and the
    // O(log n) large-star/small-star fallback must take over (the old
    // behavior was a require() crash). A cap of 0 keeps the graph off
    // the driver union-find shortcut.
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = withConf(DriverCutover.MaxRowsKey -> "0") {
      Dedup.connectedComponents(chain, maxIter = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got.size == 200 && got.values.forall(_ == 0L),
      s"chain not fused to component 0: ${got.toSeq.sortBy(_._1).take(10)}")

    // star contraction alone (no plain rounds) on a mixed shape:
    // two chains + a clique + an isolated pair, vs driver union-find
    val mixed = ((100L until 149L).map(i => (i, i + 1)) ++
      (200L until 220L).flatMap(i => (i + 1 to 220L).map(j => (i, j))) ++
      Seq((7L, 3L), (500L, 501L))).toDF("doc_a", "doc_b")
    val viaStar = Dedup.starContract(
      mixed.select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
        .union(mixed.select(col("doc_b").cast("long").as("src"), col("doc_a").cast("long").as("dst"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = Dedup.connectedComponents(mixed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar == viaDriver, "star contraction disagrees with union-find")
  }

  test("starContract equals union-find on seeded random graphs across densities") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234567)
    // three densities over 80 nodes: sparse (many small components +
    // isolated chains), moderate, and dense (few big components) — the
    // shapes where a star-contraction bug would express differently
    Seq(0.01, 0.05, 0.2).foreach { p =>
      val n = 80
      val es = for {
        i <- 0L until n; j <- (i + 1) until n
        if rnd.nextDouble() < p
      } yield (i, j)
      val pairs = es.toDF("doc_a", "doc_b")
      val sym = pairs.select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
        .union(pairs.select(col("doc_b").cast("long").as("src"), col("doc_a").cast("long").as("dst")))
      val viaStar = Dedup.starContract(sym)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaDriver = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaStar == viaDriver, s"star contraction diverged at density $p")
    }
  }

  test("simhash pairwise blocking is exact: equals brute-force Hamming<=3 over signatures") {
    // blocking must be a pure optimization: the 5-chunk pairwise keys
    // may never lose a pair that brute-force XOR popcount would find
    val sig = Dedup.simhashSignatures(Tables.load(spark, sf, "documents"))
    val a = sig.select(col("doc_id").as("da"), col("simhash").as("sa"))
    val b = sig.select(col("doc_id").as("db"), col("simhash").as("sb"))
    // test-code-only cartesian as the oracle
    val exact = a.join(b, col("da") < col("db"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
      .select(col("da"), col("db"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.simhashNearDups(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain simhash near-dups")
    assert(got == exact,
      s"missed=${exact.diff(got).take(5)} extra=${got.diff(exact).take(5)}")
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    Dedup.embeddingNearDups(spark, sf, 0.4).collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.4)
    }
  }

  test("embeddingNearDups: 100% recall — equals all-pairs exact; no nested-loop plan") {
    val got = Dedup.embeddingNearDups(spark, sf, 0.4)
    // the cell-pruned plan must never fall back to a corpus×corpus
    // product: triangle-inequality pruning + cell equi-joins only
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "dedup plan has a CartesianProduct")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "dedup plan has a BroadcastNestedLoopJoin")
    // the surviving-cell-pair (`keep`) join must stay broadcast: its
    // size is bounded by the cell-count policy, and a silent flip to a
    // shuffle join would re-shuffle the whole corpus by ca_id at scale
    assert("BroadcastHashJoin \\[ca_id".r.findFirstIn(plan).isDefined,
      s"keep join not a BroadcastHashJoin on ca_id:\n$plan")
    val gotPairs = got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force reference, test-code-only cartesian
    import graft.functions.VectorFunctions.{arrayDot, l2Norm}
    val e = graft.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    val exact = e.select(col("vec_id").as("va"), col("emb").as("ea"))
      .join(e.select(col("vec_id").as("vb"), col("emb").as("eb")), col("va") < col("vb"))
      .filter(arrayDot(col("ea"), col("eb")) / (l2Norm(col("ea")) * l2Norm(col("eb"))) >= 0.4)
      .select(col("va"), col("vb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == exact,
      s"missed=${exact.diff(gotPairs).take(5)} extra=${gotPairs.diff(exact).take(5)}")
  }

  test("cell pruning: exact on a clustered corpus AND prunes most cell pairs") {
    // 43 tight clusters, 2000 vectors, 32 dims, small angular noise —
    // the regime the operator is built for. Seeds are hash-selected
    // (xxhash64 pmod stride), so cluster coverage is distribution-
    // independent; exactness never depends on coverage (triangle
    // inequality), only the prune rate does.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(43)(Array.fill(32)(rnd.nextGaussian()))
    val vecs = (0 until 2000).map { i =>
      val c = centers(i % 43)
      val nrm = math.sqrt(c.map(x => x * x).sum)
      (i.toLong, c.map(x => x / nrm + 0.02 * rnd.nextGaussian()).toSeq)
    }
    import graft.functions.VectorFunctions.{arrayDot, l2Norm}
    val corpus = vecs.toDF("vec_id", "emb")
      .withColumn("nrm", l2Norm(col("emb")))

    val p = Dedup.cellPrune(corpus, 0.9)
    val kept = p.keep.count()
    val total = p.cells.toLong * p.cells
    assert(kept < total / 5,
      s"expected most of $total cell pairs pruned on clustered data, kept $kept")

    val got = Dedup.embeddingNearDupsOn(corpus, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = corpus.select(col("vec_id").as("va"), col("emb").as("ea"))
      .join(corpus.select(col("vec_id").as("vb"), col("emb").as("eb")), col("va") < col("vb"))
      .filter(arrayDot(col("ea"), col("eb")) / (l2Norm(col("ea")) * l2Norm(col("eb"))) >= 0.9)
      .select(col("va"), col("vb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && got == exact,
      s"missed=${exact.diff(got).size} extra=${got.diff(exact).size} of ${exact.size}")
  }

  test("cellSeeds robust to sparse/hashed vec_ids (strided-modulo regression)") {
    // ids k*1000+7: every id ≡ 7 (mod 1000). Under the old
    // `vec_id % stride == 0` seeding, any stride whose gcd with 1000
    // does not divide 7 selects ZERO seeds (for this corpus n=2000 →
    // stride 44: 1000k+7 ≡ 0 (mod 44) has no solution), leaving an
    // empty centroid set and a corpus-wide null assignment. Hash-based
    // seeding must keep the operator exact on exactly this corpus.
    import spark.implicits._
    import graft.functions.VectorFunctions.{arrayDot, l2Norm}
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(20)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 2000).map { i =>
      val c = centers(i % 20)
      val nrm = math.sqrt(c.map(x => x * x).sum)
      (i.toLong * 1000L + 7L, c.map(x => x / nrm + 0.02 * rnd.nextGaussian()).toSeq)
    }
    val corpus = vecs.toDF("vec_id", "emb")
      .withColumn("nrm", l2Norm(col("emb")))
    val p = Dedup.cellPrune(corpus, 0.9)
    assert(p.cells > 0, "hash seeding selected zero centroids on sparse ids")
    val got = Dedup.embeddingNearDupsOn(corpus, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = corpus.select(col("vec_id").as("va"), col("emb").as("ea"))
      .join(corpus.select(col("vec_id").as("vb"), col("emb").as("eb")), col("va") < col("vb"))
      .filter(arrayDot(col("ea"), col("eb")) / (l2Norm(col("ea")) * l2Norm(col("eb"))) >= 0.9)
      .select(col("va"), col("vb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && got == exact,
      s"missed=${exact.diff(got).size} extra=${got.diff(exact).size} of ${exact.size}")
  }

  test("indexed near-dup equals the ad-hoc variant row-for-row") {
    // exactness never depends on which centroid set the index froze —
    // the triangle bound guarantees 100% recall for any centroids and
    // verification is exact cosine, so the persisted-index path must
    // reproduce the ad-hoc result exactly (build once, query twice to
    // also cover the cache-hit path)
    val adhoc = Dedup.embeddingNearDups(spark, sf, 0.4)
      .collect().map(_.toSeq).toSeq
    val idx1 = Dedup.embeddingNearDupsIndexed(spark, sf, 0.4)
      .collect().map(_.toSeq).toSeq
    val idx2 = Dedup.embeddingNearDupsIndexed(spark, sf, 0.4)
      .collect().map(_.toSeq).toSeq
    assert(idx1 == adhoc, "indexed result differs from ad-hoc")
    assert(idx2 == adhoc, "cache-hit indexed result differs")
  }

  test("embeddingNearDups output independent of shuffle partitioning") {
    // kmeansIters=1 (one coverage round instead of three): invariance
    // is a property of the JOIN/AGG pipeline, not of how refined the
    // centroids are, and this test re-trains the grid three times —
    // the exactness tests above keep the default training path covered
    def run() = Dedup.embeddingNearDupsOn(
      Similarity.emb(spark, sf), 0.4, kmeansIters = 1).collect().toSeq
    val base = run()
    Seq("1", "7").foreach { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try {
        val got = run()
        assert(got == base, s"differs at shuffle.partitions=$p")
      } finally spark.conf.set("spark.sql.shuffle.partitions", "8")
    }
  }

  test("minhash dedup plan has no window over the shingle key (df-cap is agg+anti-join)") {
    val plan = Dedup.minhashNearDups(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition"), "dedup plan still uses a window")
  }

  test("pair cores feed connected components unsorted; public pair lists stay sorted") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val helper = new AdaptiveSparkPlanHelper {}
    Seq("minhashPairs" -> Dedup.minhashPairs(spark, sf),
        "ngramPairs" -> Dedup.ngramPairs(spark, sf)).foreach { case (name, core) =>
      core.collect() // final adaptive plan
      val plan = core.queryExecution.executedPlan
      assert(helper.collect(plan) { case s: SortExec if s.global => s }.isEmpty, s"$name sorts:\n$plan")
      assert(helper.collect(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }.isEmpty, s"$name range-partitions:\n$plan")
    }
    Seq(Dedup.minhashNearDups(spark, sf), Dedup.ngramJaccardDups(spark, sf)).foreach { df =>
      val keys = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(keys.nonEmpty)
      assert(keys == keys.sorted, "pairs not ordered by (doc_a, doc_b)")
    }
  }

  test("knnBruteForce: k rows per query, cosine non-increasing by rank") {
    val rows = Similarity.knnBruteForce(spark, sf).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (_, rs) =>
      assert(rs.length == 5)
      val cos = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("nearest_cell: codegen result matches a plain-Scala argmax, ties to lowest index") {
    import graft.functions.VectorFunctions.nearestCell
    // deterministic pseudo-random corpus + centroids
    val rnd = new scala.util.Random(42)
    val dims = 8
    val cents = Seq.fill(7)(Seq.fill(dims)(rnd.nextDouble() * 2 - 1))
    val nrms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    val vecs = (0 until 200).map(i => (i.toLong, Seq.fill(dims)(rnd.nextDouble() * 2 - 1)))
    def expected(v: Seq[Double]): Int =
      cents.indices.maxByOption(i =>
        // left-to-right dot, same order as the expression
        (v.zip(cents(i)).foldLeft(0.0) { case (s, (a, b)) => s + a * b } / nrms(i), -i)).get
    import spark.implicits._
    val df = vecs.toDF("vec_id", "emb")
      .select(col("vec_id"), col("emb"),
        nearestCell(col("emb"), typedLit(cents), typedLit(nrms)).as("cell"))
    df.collect().foreach { r =>
      assert(r.getInt(2) == expected(vecs(r.getLong(0).toInt)._2),
        s"vec ${r.getLong(0)}: got ${r.getInt(2)}")
    }
    // tie: duplicated centroid must resolve to the LOWEST index
    val dup = Seq(cents.head, cents.head, cents.head)
    val dupNrm = Seq(nrms.head, nrms.head, nrms.head)
    val tie = Seq((0L, cents.head)).toDF("vec_id", "emb")
      .select(nearestCell(col("emb"), typedLit(dup), typedLit(dupNrm)).as("cell"))
    assert(tie.collect()(0).getInt(0) == 0)
    // empty centroid list → NULL, not an error
    val empty = Seq((0L, Seq(1.0, 2.0))).toDF("vec_id", "emb")
      .select(nearestCell(col("emb"),
        typedLit(Seq.empty[Seq[Double]]), typedLit(Seq.empty[Double])).as("cell"))
    assert(empty.collect()(0).isNullAt(0))
  }

  test("recommendNprobe: chosen width meets the target on a fresh measurement, wider targets never narrower") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = pairs(Similarity.knnBruteForce(spark, sf))
    val loose = Similarity.recommendNprobe(spark, sf, targetRecall = 0.3)
    val tight = Similarity.recommendNprobe(spark, sf, targetRecall = 0.8)
    assert(loose <= tight, s"monotonicity violated: $loose > $tight")
    // the recommendation must hold up on an independent end-to-end run
    // (same seeds → same grid), unless it hit the sweep ceiling
    val got = pairs(Similarity.knnIvf(spark, sf, nprobe = tight))
    val recall = brute.intersect(got).size.toDouble / brute.size
    assert(recall >= 0.8 || tight == 32, s"recommended nprobe=$tight measured $recall")
    // a trivial target is satisfied by the narrowest width
    assert(Similarity.recommendNprobe(spark, sf, targetRecall = 0.0) == 1)
  }

  test("knnIvf achieves >=70% recall vs brute force at defaults (√n cells, nprobe=16)") {
    // the default path must not silently drop a large share of true
    // neighbors: nprobe=16 measures 0.80 recall on the weakly
    // clustered sf0.1 corpus (RECALL.json curve); the floor here is
    // 0.70 to absorb seed sensitivity at sf0.001
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = pairs(Similarity.knnBruteForce(spark, sf))
    val ivf = pairs(Similarity.knnIvf(spark, sf))
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.7, s"IVF recall $recall")
    // Lloyd refinement tightens cells and must not hurt recall
    val km = pairs(Similarity.knnIvf(spark, sf, kmeansIters = 2))
    val kmRecall = brute.intersect(km).size.toDouble / brute.size
    assert(kmRecall >= 0.7, s"IVF+kmeans recall $kmRecall")
  }

  test("incremental dedup decisions equal the full-recompute pair graph") {
    // the whole point of the incremental path: same ANSWER as a full
    // self-dedup, at delta cost. Derive the expected decision for
    // every batch doc from ngramJaccardDups' full pair list.
    val splitId = 40L
    val full = Dedup.ngramJaccardDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = full.filter(_._2 >= splitId).groupBy(_._2).map { case (b, ps) =>
      val minA = ps.map(_._1).min
      b -> (minA, ps.find(_._1 == minA).get._3)
    }
    val inc = Dedup.incrementalNgramDedup(spark, sf, splitId = splitId).collect()
    val nBatch = Tables.load(spark, sf, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") >= splitId).count()
    assert(inc.length == nBatch, "one decision per batch doc")
    inc.foreach { r =>
      val (id, kept, dupOf, jac) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      want.get(id) match {
        case Some((a, j)) =>
          assert(kept == 0L && dupOf == a && math.abs(jac - j) < 1e-9,
            s"doc $id: got ($kept,$dupOf,$jac) want (0,$a,$j)")
        case None =>
          assert(kept == 1L && dupOf == -1L && jac == 0.0,
            s"doc $id: got ($kept,$dupOf,$jac) want kept")
      }
    }
    assert(inc.exists(_.getLong(1) == 0L), "split should produce at least one drop")
  }

  test("streaming near-dedup ingest equals the one-shot batch decisions") {
    // chop the batch into micro-batches in id order; the accumulated
    // decisions must be byte-identical to the one-shot operator no
    // matter where the stream was cut (index keeps EVERY seen doc's
    // shingles, so the "any lower-id doc" rule survives chopping)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val splitId = 40L
    // the whole corpus arrives in id order — the "existing corpus"
    // (< splitId) is simply the first chunks the stream saw
    val docsAll = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val out = java.nio.file.Files
      .createTempDirectory("graft-stream-dedup").toString
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStream.streamingNearDedup(
      in.toDF().toDF("doc_id", "text"), out)
    try {
      val (existing, batch) = docsAll.partition(_._1 < splitId)
      in.addData(existing.toSeq); q.processAllAvailable()
      batch.grouped(batch.length / 3 + 1).foreach { chunk =>
        in.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(s"$out/decisions")
      .filter(col("doc_id") >= splitId)
      .select(col("doc_id"), col("kept"), col("dup_of"), col("jaccard"))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val oneShot = Dedup.incrementalNgramDedup(spark, sf, splitId = splitId)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(streamed.length == oneShot.length,
      s"${streamed.length} streamed vs ${oneShot.length} one-shot")
    assert(streamed.toSeq == oneShot.toSeq)
  }

  test("incremental dedup: persisted-index path returns identical rows") {
    // second call hits the ArtifactCache index instead of re-shingling
    // the existing corpus; decisions must not change
    val a = Dedup.incrementalNgramDedup(spark, sf, splitId = 40L)
      .collect().map(_.toSeq)
    val b = Dedup.incrementalNgramDedup(spark, sf, splitId = 40L)
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }
}
