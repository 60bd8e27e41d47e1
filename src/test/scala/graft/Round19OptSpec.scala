package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bpe, Dedup, DriverCutover, EntityResolution, TextQueries}

/** Round-19 OPTIMIZATION equivalence specs: every rewrite this round is
  * a cost change with a bit-identical result contract, and each one is
  * pinned here against the shape it replaced —
  *  - BPE's driver train-loop cutover vs the distributed loop (same
  *    counts ⇒ same merges, same tie-breaks, same early stop);
  *  - count-based Jaccard (pair-group counts) vs the collect_set +
  *    array_intersect verify it replaced;
  *  - hashed repeated-span grams vs the string-gram reference;
  *  - thresholded (banded) levenshtein vs unbounded + filter.
  */
class Round19OptSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("bpe: driver train loop == distributed train loop (sf0.001 counts)") {
    val counts = Bpe.wordCounts(
      Tables.load(spark, sf, "documents").select(col("text")))
    // driver path (vocab far below the cap)
    val driver = Bpe.bpeTrainFromCounts(spark, counts, merges = 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // distributed path, invoked directly
    val (dist, words) = Bpe.trainLoop(Bpe.withSyms(counts), 8)
    words.unpersist()
    assert(driver.toSeq == dist,
      s"driver merges ${driver.toSeq} != distributed $dist")
  }

  test("bpe: driver loop ties break in UTF-8 byte order like the engine argmax") {
    import spark.implicits._
    // two words, same count, so round 1 is a pure tie-break: pairs
    // (a,b) and (a,c) both have count 1; lhs equal, rhs 'b' < 'c'
    val counts = Seq(("ab", 1L), ("ac", 1L)).toDF("word", "cnt")
    val driver = Bpe.bpeTrainFromCounts(spark, counts, merges = 1).collect()
    val (dist, words) = Bpe.trainLoop(Bpe.withSyms(counts), 1)
    words.unpersist()
    assert(driver.head.getString(1) == dist.head._2 &&
      driver.head.getString(2) == dist.head._3)
  }

  test("ngram jaccard: count-based verify == collect_set/array_intersect verify") {
    val got = Dedup.ngramJaccardDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the r18 shape, restated inline: df-capped shingles -> distinct
    // shared-shingle candidate pairs -> set-intersection Jaccard
    val sh = {
      val raw = Dedup.shingleHashes(
        Tables.load(spark, sf, "documents"), k = 2)
      val hot = raw.groupBy(col("sh")).count().filter(col("count") > 50).select(col("sh"))
      raw.join(broadcast(hot), Seq("sh"), "left_anti")
    }
    val cands = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val want = Dedup.verifyJaccard(cands, sh, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
  }

  test("incremental batch dedup: count-based pairs == set-based reference") {
    val d = Tables.load(spark, sf, "documents")
    val split = 400L
    val batchIds = d.filter(col("doc_id") >= split).select(col("doc_id"))
    val batchSh = Dedup.shingleHashes(d.filter(col("doc_id") >= split), k = 2)
    val indexSh = Dedup.shingleHashes(d.filter(col("doc_id") < split), k = 2)
    val got = Dedup.batchDedupPairs(batchIds, batchSh, indexSh, 0.3, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // r18 shape: distinct candidates + set verify over candidate docs
    val sh = {
      val u = indexSh.unionByName(batchSh)
      val hot = u.groupBy(col("sh")).count().filter(col("count") > 50).select(col("sh"))
      u.join(broadcast(hot), Seq("sh"), "left_anti")
    }
    val cands = sh.join(batchIds, Seq("doc_id"), "left_semi").as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("b.doc_id") < col("a.doc_id"))
      .select(col("b.doc_id").as("doc_a"), col("a.doc_id").as("doc_b"))
      .distinct()
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    val want = Dedup.verifyJaccard(cands,
        sh.join(candDocs, Seq("doc_id"), "left_semi"), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
  }

  test("repeated spans: hashed grams == string-gram reference") {
    val got = TextQueries.repeatedSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // string-gram reference (the r18 shape) over the same normalization
    val d = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        filter(
          transform(split(col("text"), "\\s+"),
            t => graft.operators.InvertedIndex.normalizeToken(t)),
          w => length(w) > 0).as("ws"))
    val l = 8
    val grams = d.filter(size(col("ws")) >= l)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("ws")) - l),
        i => concat_ws(" ", slice(col("ws"), i + 1, lit(l)))))
        .as(Seq("p", "gram")))
    val rep = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select(col("gram"))
    val covered = grams.join(rep, Seq("gram"))
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + (l - 1))).as("off"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    val want = d.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          graft.functions.Rounding.portableRound4(
            coalesce(col("n_covered"), lit(0L)).cast("double") / col("n_tokens")))
          .as("rep_frac"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
  }

  test("curation: tokenized-once fingerprint == TextAnalysis.fingerprint " +
    "and decisions match the per-signal expressions (sf0.001)") {
    import graft.functions.TextAnalysis
    val d = Tables.load(spark, sf, "documents")
    // fp equivalence: split/join form vs regex-collapse form
    val bad = d.select(
        md5(concat_ws(" ",
          filter(split(lower(col("text")), "\\s+"), t => length(t) > 0))).as("a"),
        TextAnalysis.fingerprint(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(bad == 0L, s"$bad fingerprint mismatches")
    // full-row equivalence against the r18 per-signal shape
    val got = graft.operators.Curation.decisions(spark, sf).collect().map(_.toSeq).toSeq
    val sig = d.select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.langPredict(col("text")).as("pred_lang"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val canon = sig.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("grp_n"))
    val want = graft.operators.Skew.hotKeyJoin(sig, canon, "fp",
        saltSource = col("doc_id"))
      .withColumn("fail_quality",
        (col("n_tokens") < 20 || col("n_tokens") > 100000 ||
          col("punct_ratio") > 0.2).cast("long"))
      .withColumn("fail_lang", (!col("pred_lang").isInCollection(Seq("en"))).cast("long"))
      .withColumn("fail_dup", (col("doc_id") =!= col("canonical_id")).cast("long"))
      .withColumn("keep",
        (col("fail_quality") === 0 && col("fail_lang") === 0 && col("fail_dup") === 0)
          .cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
        col("pred_lang"), col("canonical_id"),
        col("fail_quality"), col("fail_lang"), col("fail_dup"), col("keep"))
      .orderBy(col("doc_id")).collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("embedding near-dup: driver cellPrune == distributed cellPrune output " +
    "(both exact), driver grid radii cover its own assignment") {
    val drv = Dedup.embeddingNearDups(spark, sf, 0.4).collect().toSeq
    val dist = withConf(DriverCutover.MaxRowsKey -> "0") {
      Dedup.embeddingNearDups(spark, sf, 0.4).collect().toSeq
    }
    assert(drv == dist, "driver and distributed prune must agree (both exact)")
  }

  test("entity match: thresholded levenshtein == unbounded verify (sf0.001)") {
    val got = EntityResolution.fuzzyParts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getLong(4)))
    // only the verify predicate differs from the r18 shape, so a
    // direct row compare against a recomputed unbounded verify of the
    // SAME pairs suffices: every reported distance must equal the
    // unbounded levenshtein and sit within the bound
    import spark.implicits._
    val pairs = got.map { case (_, _, na, nb, d) => (na, nb, d) }.toSeq
      .toDF("name_a", "name_b", "edit_dist")
    val bad = pairs.filter(
      levenshtein(col("name_a"), col("name_b")) =!= col("edit_dist") ||
        col("edit_dist") > 2).count()
    assert(bad == 0L)
    assert(got.nonEmpty)
  }
}
