package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Per-operator behavior + plan-shape assertions over sf0.001.
  * Value-level correctness is covered by the DuckDB oracle gate
  * (Verify + oracle_sql); these specs pin invariants and the physical
  * plans we care about at scale (pushdown, broadcast, partial agg).
  */
class QueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filterProject pushes predicates and prunes columns at the scan") {
    val df = Relational.filterProject(spark, sf)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("PushedFilters: ["), s"no pushed filters in:\n$scan")
    assert(scan.contains("l_quantity") && scan.contains("l_returnflag"))
    // pruned read schema: only the 4 projected + 2 filter columns, not all 11
    assert(!scan.contains("l_shipdate"), "read schema not pruned")
    assert(df.count() > 0)
  }

  test("starRevenue broadcasts every dimension join") {
    val plan = physicalPlan(Relational.starRevenue(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts in:\n$plan")
    assert(Relational.starRevenue(spark, sf).count() == 25)
  }

  test("pricingSummary uses partial (map-side) aggregation") {
    val plan = physicalPlan(Relational.pricingSummary(spark, sf))
    assert(plan.contains("partial_"), s"no partial agg in:\n$plan")
  }

  test("setops/semi/anti return consistent customer partitions") {
    val anti = Relational.customersWithoutOrders(spark, sf)
      .agg(sum("n_customers")).collect()(0)
    val antiN = if (anti.isNullAt(0)) 0L else anti.getLong(0)
    val semiN = Relational.bigSpenders(spark, sf).count()
    val total = graft.Tables.load(spark, sf, "customer").count()
    assert(antiN + semiN <= total)
    assert(Relational.setOpsCustkeys(spark, sf).count() >= 0)
  }

  test("approx_count_distinct within 5% of exact") {
    Relational.approxDistinct(spark, sf).collect().foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"approx=$approx exact=$exact for ${r.getString(0)}")
    }
  }

  test("rollup: ALL/ALL row equals the global total") {
    val rows = Relational.rollupRevenue(spark, sf).collect()
    val total = rows.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(total.length == 1)
    val leaves = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) != "ALL")
    assert(math.abs(leaves.map(_.getDouble(2)).sum - total(0).getDouble(2)) < 1.0)
    assert(leaves.map(_.getLong(3)).sum == total(0).getLong(3))
  }

  test("typed PostingListAggregator matches collect_set path") {
    import org.apache.spark.sql.functions.udaf
    val posting = udaf(graft.functions.PostingListAggregator)
    val docs = graft.sources.DocumentCorpus.documents(spark, Fixtures.smallManifest)
    val viaAgg = InvertedIndex.wordFilePairs(docs)
      .groupBy("word").agg(posting(col("file_id")).as("file_ids"))
    val viaBuiltin = InvertedIndex.build(docs)
    assert(viaAgg.except(viaBuiltin).count() == 0
      && viaBuiltin.except(viaAgg).count() == 0)
  }

  test("curation: keep implies all gates pass; curated write partitions by lang") {
    val dec = graft.operators.Curation.decisions(spark, sf).collect()
    dec.foreach { r =>
      val keep = r.getLong(8)
      val fails = r.getLong(5) + r.getLong(6) + r.getLong(7)
      assert((keep == 1) == (fails == 0))
    }
    assert(dec.exists(_.getLong(8) == 1) && dec.exists(_.getLong(8) == 0))
    val out = java.nio.file.Files.createTempDirectory("graft-curated").toString
    graft.operators.Curation.writeCurated(spark, sf, out)
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("pred_lang="))
    // partition count is data-dependent (synthetic text predicts 'en'
    // almost exclusively); the layout contract is what we assert
    assert(dirs.nonEmpty, s"expected lang-partitioned output, got ${dirs.toSeq}")
    val kept = spark.read.parquet(out).count()
    val multiLang = graft.operators.Curation.decisions(spark, sf,
      langs = Seq("en", "de", "es", "fr")).collect()
    assert(kept == multiLang.count(_.getLong(8) == 1))
  }

  test("docIndex: n_docs equals posting-list length, postings ascending") {
    val rows = TextQueries.docIndex(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ids = r.getString(1).split(" ").map(_.toLong)
      assert(ids.length == r.getLong(2), s"count mismatch for ${r.getString(0)}")
      assert(ids.sameElements(ids.sorted), s"unsorted posting for ${r.getString(0)}")
      assert(ids.distinct.length == ids.length, s"dup ids for ${r.getString(0)}")
    }
  }

  test("boolRetrieval result is consistent with docIndex membership") {
    val idx = TextQueries.docIndex(spark, sf).collect()
      .map(r => r.getString(0) -> r.getString(1).split(" ").map(_.toLong).toSet).toMap
    def docsOf(w: String) = idx.getOrElse(w, Set.empty[Long])
    val expected = ((docsOf("spark") intersect docsOf("join")) union docsOf("stream"))
      .diff(docsOf("window"))
    val got = TextQueries.boolRetrieval(spark, sf).collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("langId predicts a language for every doc, scores consistent") {
    val rows = TextQueries.langId(spark, sf).collect()
    assert(rows.length == graft.Tables.load(spark, sf, "documents").count())
    rows.foreach { r =>
      val scores = Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val pred = r.getString(5)
      if (scores.max == 0) assert(pred == "und")
      else assert(Seq("en", "de", "es", "fr").contains(pred))
    }
  }

  test("events: hourly counts roll up to daily counts") {
    val hourly = EventsQueries.hourlyCounts(spark, sf)
      .groupBy("event_date", "event_type").agg(sum("n_events").as("n"))
    val daily = EventsQueries.dailyActivity(spark, sf)
      .select(col("event_date"), col("event_type"), col("n_events").as("n"))
    assert(hourly.except(daily).count() == 0 && daily.except(hourly).count() == 0)
  }

  test("sessions: every user has >=1 session and sessions <= events") {
    EventsQueries.sessionCounts(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= r.getLong(2))
    }
  }

  test("train split covers every doc once; packing bins are contiguous and lossless") {
    val nDocs = graft.Tables.load(spark, sf, "documents").count()
    val split = DatasetOps.splitCounts(spark, sf).collect()
    assert(split.map(_.getLong(2)).sum == nDocs, "split counts must partition the corpus")
    assert(split.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))

    val bins = DatasetOps.packingManifest(spark, sf, budget = 512).collect()
    assert(bins.map(_.getLong(3)).sum == nDocs, "every doc lands in exactly one bin")
    // within each (lang, shard) stream: bin ids start at 0 and are
    // contiguous, and doc-id ranges of consecutive bins don't overlap
    bins.groupBy(r => (r.getString(0), r.getLong(1))).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(2))
      assert(sorted.head.getLong(2) == 0)
      assert(sorted.map(_.getLong(2)).toSeq == sorted.indices.map(_.toLong))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(6) < b.getLong(5),
          "bin doc-id ranges must not overlap")
        case _ =>
      }
    }
  }

  test("mixture plan: weights sum to 1, rates in (0,1], binding source saturates") {
    val rows = DatasetOps.mixturePlan(spark, sf).collect()
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-3, "weights must sum to ~1")
    rows.foreach { r =>
      assert(r.getDouble(4) > 0 && r.getDouble(4) <= 1.0, s"rate out of range: $r")
      assert(r.getLong(5) <= r.getLong(2), "cannot expect more tokens than the source has")
    }
    assert(rows.map(_.getDouble(4)).max == 1.0, "the binding source must saturate at rate 1")
  }

  test("decontamination never flags eval docs and overlap counts are bounded by gram counts") {
    val rows = DatasetOps.decontaminate(spark, sf).collect()
    assert(rows.nonEmpty, "synthetic corpus should share some 3-grams with the eval slice")
    rows.foreach { r =>
      assert(r.getLong(0) % 97 != 0, "eval docs must never be flagged")
      assert(r.getLong(1) >= 1)
    }
    // a doc cannot share more distinct grams than it has tokens
    val toks = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) <= toks(r.getLong(0))))
  }

  test("decontaminateAgainst: explicit eval corpus, eval side broadcast by plan shape") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "the quick brown fox sleeps all day long")
    ).toDF("doc_id", "text")
    val evalSet = Seq((100L, "watch the quick brown fox run")).toDF("doc_id", "text")
    val got = DatasetOps.decontaminateAgainst(corpus, evalSet, n = 3)
    // the eval n-gram side must broadcast (map-side hash join over the
    // streaming corpus) — a silent flip to a sort-merge join would
    // shuffle the whole training corpus by gram at 100 TB
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "decontamination must not shuffle the corpus by gram")
    // docs 1 and 3 share exactly {"the quick brown", "quick brown fox"}
    // with the eval doc; doc 2 shares nothing
    assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 2L, 3L -> 2L))
    // same shape holds for the oracle-checked pseudo-eval default
    val defPlan = DatasetOps.decontaminate(spark, sf).queryExecution.executedPlan.toString
    assert(defPlan.contains("BroadcastHashJoin") && !defPlan.contains("SortMergeJoin"))
  }

  test("repetition: ratios bounded, entropy within [0, log2(distinct)]") {
    val rows = TextQueries.repetition(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTok, nDis) = (r.getLong(1), r.getLong(2))
      val (rep, mxf, ent) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(nDis >= 1 && nDis <= nTok)
      assert(rep >= 0.0 && rep <= 1.0 && math.abs(rep - (1.0 - nDis.toDouble / nTok)) < 1e-3)
      assert(mxf > 0.0 && mxf <= 1.0)
      // Shannon entropy of a distribution over nDis outcomes; the
      // tolerance must exceed the round4 granularity (5e-5) — an
      // all-distinct doc has entropy exactly log2(nDis), which
      // portableRound4 may round past the bound
      assert(ent >= -1e-4 && ent <= math.log(nDis.toDouble) / math.log(2.0) + 1e-4)
    }
  }

  test("repetition output is bit-identical under different shuffle partitionings") {
    // the entropy fold must be combine-order-independent (sorted
    // per-doc array folded left-to-right) — a plain float sum here
    // would drift by ulps across partitionings and flip round4 on a
    // boundary-adjacent doc
    val base = TextQueries.repetition(spark, sf).collect().toSeq
    Seq("1", "7").foreach { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try assert(TextQueries.repetition(spark, sf).collect().toSeq == base,
        s"repetition differs at shuffle.partitions=$p")
      finally spark.conf.set("spark.sql.shuffle.partitions", "8")
    }
  }

  test("mixtureSample: binding source saturates, sampling bounded by source size") {
    val rows = DatasetOps.mixtureSample(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1), s"sampled > docs: $r")
      // the binding source (rate 1.0) must keep every document —
      // u01 < 1.0 holds for every hash value
      if (r.getDouble(3) == 1.0) assert(r.getLong(2) == r.getLong(1), s"rate-1 source dropped docs: $r")
    }
    assert(rows.map(_.getDouble(3)).max == 1.0)
  }

  test("sourceOverlapMatrix: ordered pairs, counts positive, bounded by pair count") {
    val rows = DatasetOps.sourceOverlapMatrix(spark, sf).collect()
    assert(rows.nonEmpty, "synthetic sources share vocabulary")
    val nSources = graft.Tables.load(spark, sf, "documents")
      .select(col("source")).distinct().count()
    assert(rows.length <= nSources * (nSources - 1) / 2)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) >= 1)
    }
  }

  test("chunking covers every token: last chunk ends at n_tokens, starts stride evenly") {
    val chunks = DatasetOps.chunkManifest(spark, sf, chunk = 128, overlap = 32).collect()
      .groupBy(_.getLong(0))
    val tokens = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    tokens.filter(_._2 > 0).foreach { case (doc, n) =>
      val rs = chunks(doc).sortBy(_.getLong(1))
      assert(rs.map(_.getLong(1)).toSeq == rs.indices.map(_.toLong), "chunk ids contiguous")
      rs.foreach { r => assert(r.getLong(2) == r.getLong(1) * 96, "start = id * stride") }
      assert(rs.map(r => r.getLong(2) + r.getLong(3)).max == n, "coverage to the last token")
      assert(rs.forall(_.getLong(3) <= 128), "no chunk exceeds the window")
    }
  }
}
