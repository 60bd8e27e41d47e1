package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalysis

/** End-to-end training-data curation: the composed pipeline every
  * piece of this engine exists to serve.
  *
  *   documents → quality gate → language filter → exact-dedup keep →
  *   curated corpus (optionally written partitioned by language)
  *
  * All per-doc signals come from one projection shape (no per-signal
  * scans), the only keyed operation is the skew-safe canonical-id
  * aggregate + hot-salted join on the content fingerprint
  * ([[Skew.hotKeyJoin]] — three column-pruned passes over documents
  * in total, see its cost note; the aggregate sides prune to
  * fingerprint-only projections), and the decision column (`keep`)
  * plus reasons are retained so the pipeline is auditable — at 100 TB
  * you keep the rejection reasons, not just the survivors.
  */
object Curation {

  /** Per-document annotations + gate decisions, text retained (so the
    * curated write needs no second scan/join of documents).
    */
  private def annotated(s: SparkSession, dir: String,
      minTokens: Int, maxTokens: Int, maxPunct: Double,
      langs: Seq[String]): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    // tokenize ONCE per row (r19): the naive per-signal expressions run
    // `split` 5× (token count + one per language score) and a
    // whitespace-collapsing regexp_replace for the fingerprint — all
    // over the same text, and materializing the lowered token array in
    // its OWN projection (Catalyst does no CSE across lambda
    // boundaries, so a lambda over the split re-splits per access)
    // halves the per-scan cost (probe: 1.25 → ~0.6 s/scan at sf0.1). Signal equivalences, each exact:
    //  - token count: lowercasing never creates/destroys whitespace;
    //  - lang scores: a raw token matches a marker iff its lowering
    //    does — markers are lowercase words;
    //  - fingerprint: trim(regexp_replace(lower(text), "\s+", " ")) ==
    //    concat_ws(" ", non-empty split(lower(text), "\s+")) — both
    //    collapse runs and drop leading/trailing whitespace.
    // The fp equality is additionally spec-pinned (Round19OptSpec) so
    // the canonical-id groups can never drift from
    // [[TextAnalysis.fingerprint]]'s definition elsewhere.
    def score(toks: Column, lang: String): Column =
      size(filter(toks, t => t.isInCollection(TextAnalysis.langMarkers(lang))))
    val sig = d
      .select(col("doc_id"), col("text"),
        filter(split(lower(col("text")), "\\s+"), t => length(t) > 0).as("tl"))
      .select(
        col("doc_id"), col("text"),
        size(col("tl")).cast("long").as("n_tokens"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        {
          val en = score(col("tl"), "en"); val de = score(col("tl"), "de")
          val es = score(col("tl"), "es"); val fr = score(col("tl"), "fr")
          when(greatest(en, de, es, fr) === 0, lit("und"))
            .when(en >= de && en >= es && en >= fr, lit("en"))
            .when(de >= es && de >= fr, lit("de"))
            .when(es >= fr, lit("es"))
            .otherwise(lit("fr")).as("pred_lang")
        },
        md5(concat_ws(" ", col("tl"))).as("fp"))
    // canonical id via aggregate + equi-join rather than min-over-
    // Window.partitionBy(fp): a degenerate fingerprint group (empty or
    // boilerplate docs, which a 100 TB corpus has in the millions)
    // would funnel into ONE window task carrying full text rows, and a
    // window partition cannot be split. The aggregate side is map-side
    // combined to one narrow (fp, id, n) row per group, and the
    // join-back is Skew.hotKeyJoin — AQE's skew join cannot split this
    // plan shape (see hotKeyJoin's doc), so hot fingerprints are
    // salted explicitly; that matters doubly here because these rows
    // carry full text
    val canon = sig.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("grp_n"))
    Skew.hotKeyJoin(sig, canon, "fp", saltSource = col("doc_id"))
      .withColumn("fail_quality",
        (col("n_tokens") < minTokens || col("n_tokens") > maxTokens ||
          col("punct_ratio") > maxPunct).cast("long"))
      .withColumn("fail_lang", (!col("pred_lang").isInCollection(langs)).cast("long"))
      .withColumn("fail_dup", (col("doc_id") =!= col("canonical_id")).cast("long"))
      .withColumn("keep",
        (col("fail_quality") === 0 && col("fail_lang") === 0 && col("fail_dup") === 0)
          .cast("long"))
  }

  /** Per-document curation decisions (all docs, with reasons). */
  def decisions(s: SparkSession, dir: String,
      minTokens: Int = 20, maxTokens: Int = 100000,
      maxPunct: Double = 0.2, langs: Seq[String] = Seq("en")): DataFrame =
    annotated(s, dir, minTokens, maxTokens, maxPunct, langs)
      .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
        col("pred_lang"), col("canonical_id"),
        col("fail_quality"), col("fail_lang"), col("fail_dup"), col("keep"))
      .orderBy(col("doc_id"))

  /** Curation funnel summary: one row per rejection stage + kept. */
  def funnel(s: SparkSession, dir: String): DataFrame =
    decisions(s, dir).agg(
      count(lit(1)).as("n_docs"),
      sum(col("fail_quality")).as("n_fail_quality"),
      sum(col("fail_lang")).as("n_fail_lang"),
      sum(col("fail_dup")).as("n_fail_dup"),
      sum(col("keep")).as("n_kept"))

  /** Per-domain document cap — the "no single domain dominates the
    * training mix" governor every web-scale curation run applies
    * (Common-Crawl-style pipelines cap pages per registered domain so
    * boilerplate-heavy mega-sites can't swamp the mixture).
    *
    * Keeps the `cap` highest-priority documents per `source` (priority
    * = longer doc first, doc_id as the deterministic tiebreak) and
    * reports each survivor with its rank and its domain's total count.
    *
    * Scale shape: selection uses the bounded-heap
    * [[graft.functions.TopKAggregator]], NOT `row_number() OVER
    * (PARTITION BY source ...)`. A domain is exactly the skewed-key
    * case — one host can contribute billions of pages, and a window
    * partition cannot be split — while the aggregator runs partial
    * before the shuffle, so each map task ships ≤cap rows per domain
    * and the Exchange carries O(domains × cap) rows regardless of how
    * hot the hottest domain is. The per-domain total rides the same
    * aggregate (no second scan).
    */
  def domainCap(s: SparkSession, dir: String, cap: Int = 15): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(cap))
    Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .groupBy(col("source"))
      .agg(topk(col("n_chars").cast("double"), col("doc_id")).as("top"),
        count(lit(1)).as("n_source_docs"))
      .select(col("source"), col("n_source_docs"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("source"), col("n_source_docs"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("t.id").as("doc_id"), col("t.score").cast("long").as("n_chars"))
      .orderBy(col("source"), col("rnk"))
  }

  /** Write the curated corpus partitioned by predicted language — the
    * layout downstream training jobs read selectively. Default keep
    * set is multilingual so the partitioning is meaningful (a
    * single-language keep set would always produce one directory);
    * one scan, no re-join (text rides through `annotated`).
    */
  def writeCurated(s: SparkSession, dir: String, outPath: String,
      minTokens: Int = 20, maxTokens: Int = 100000, maxPunct: Double = 0.2,
      langs: Seq[String] = Seq("en", "de", "es", "fr")): Unit =
    annotated(s, dir, minTokens, maxTokens, maxPunct, langs)
      .filter(col("keep") === 1)
      .select(col("doc_id"), col("text"), col("n_tokens"), col("pred_lang"))
      .write.mode("overwrite").partitionBy("pred_lang").parquet(outPath)
}
