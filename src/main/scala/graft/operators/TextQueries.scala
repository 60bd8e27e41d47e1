package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextAnalysis

/** The reference's query surface re-expressed over the `documents`
  * table (SURVEY §2.3 Q-INDEX/Q-POSTING/Q-TOPK/Q-BOOL/Q-STATS): the
  * inverted index as a DataFrame materialization plus the point-lookup,
  * top-k and boolean-retrieval queries an inverted index naturally
  * answers, and the text-analysis extension queries.
  *
  * Word semantics are identical to the reference pipeline
  * (`InvertedIndex.normalizeToken`): whitespace tokens → strip
  * non-alphabetic → lowercase → drop empties.
  *
  * Scale: one shuffle per aggregate, hash-partitioned on `word` or
  * `doc_id`; posting lists rendered as space-joined strings (bounded by
  * corpus doc count per word — same bound as the reference's int
  * arrays). Per-document queries are embarrassingly parallel scans.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** Distinct (word, doc_id) pairs — the map-stage output of the
    * reference (O4–O8) on the documents table.
    */
  def wordDocPairs(d: DataFrame): DataFrame =
    d.select(explode(split(col("text"), "\\s+")).as("tok"), col("doc_id"))
      .select(InvertedIndex.normalizeToken(col("tok")).as("word"), col("doc_id"))
      .filter(length(col("word")) > 0)
      .distinct()

  /** Q-INDEX: full inverted index, posting list as ascending
    * space-joined string (string form so the DuckDB oracle can
    * hash-compare it).
    */
  def docIndex(s: SparkSession, dir: String): DataFrame =
    wordDocPairs(docs(s, dir))
      .groupBy(col("word"))
      .agg(
        array_join(transform(array_sort(collect_set(col("doc_id"))), _.cast("string")), " ")
          .as("doc_ids"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("word").asc)

  /** Victim selector for the text-index takedown lifecycle query:
    * every document with `doc_id % 11 == 5`. */
  val TakedownMod = 11
  val TakedownRem = 5

  /** Driver-contract takedown query — `q_doc_index_takedown`: GDPR
    * erasure for the PERSISTED letter-partitioned inverted index.
    * Materialize the [[IndexStore]] over the documents table, then
    * [[IndexStore.delete]] the [[TakedownMod]] victims (touched-letter
    * pruned rewrite — untouched letter dirs keep their bytes,
    * mtime-pinned in the spec), then serve [[docIndex]]'s shape from
    * the stored postings. Delete ≡ rebuild over the remaining corpus,
    * so the oracle is the q_doc_index SQL with the victim predicate
    * pushed into the document source. Build-once artifact; repeat
    * calls read the persisted post-delete index. */
  def docIndexTakedown(s: SparkSession, dir: String): DataFrame = {
    val path = ArtifactCache.ensure(
      ArtifactCache.key("docidx-del", dir, "documents.parquet")) { tmp =>
      val lines = docs(s, dir)
        .select(col("doc_id").cast("int").as("file_id"), col("text").as("value"))
      IndexStore.materialize(lines, s"$tmp/index")
      IndexStore.delete(s, s"$tmp/index",
        lines.filter(pmod(col("file_id"), lit(TakedownMod)) === TakedownRem))
    }
    IndexStore.load(s, s"$path/index")
      .select(col("word"),
        array_join(transform(col("file_ids"), _.cast("string")), " ").as("doc_ids"),
        size(col("file_ids")).cast("long").as("n_docs"))
      .orderBy(col("n_docs").desc, col("word").asc)
  }

  /** Q-POSTING: point lookup for a fixed word set. */
  def docPosting(s: SparkSession, dir: String): DataFrame =
    docIndex(s, dir)
      .filter(col("word").isin("spark", "join", "window", "stream"))
      .orderBy(col("word"))

  /** Q-TOPK: top-5 words per first letter by (n_docs DESC, word ASC). */
  def topkPerLetter(s: SparkSession, dir: String): DataFrame = {
    val idx = wordDocPairs(docs(s, dir))
      .groupBy(col("word")).agg(count(lit(1)).as("n_docs"))
      .withColumn("letter", substring(col("word"), 1, 1))
    val w = Window.partitionBy(col("letter"))
      .orderBy(col("n_docs").desc, col("word").asc)
    idx.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("letter"), col("rnk").cast("long").as("rnk"), col("word"), col("n_docs"))
      .orderBy(col("letter"), col("rnk"))
  }

  /** Q-BOOL: boolean retrieval — docs containing 'spark' AND 'join',
    * OR 'stream', and NOT 'window'. One row per doc with membership
    * flags, filtered to (spark ∧ join) ∨ stream, minus window-docs.
    */
  def boolRetrieval(s: SparkSession, dir: String): DataFrame = {
    val pairs = wordDocPairs(docs(s, dir))
      .filter(col("word").isin("spark", "join", "stream", "window"))
    val flags = pairs.groupBy(col("doc_id")).agg(
      max(when(col("word") === "spark", 1L).otherwise(0L)).as("has_spark"),
      max(when(col("word") === "join", 1L).otherwise(0L)).as("has_join"),
      max(when(col("word") === "stream", 1L).otherwise(0L)).as("has_stream"),
      max(when(col("word") === "window", 1L).otherwise(0L)).as("has_window"))
    flags
      .filter(((col("has_spark") === 1 && col("has_join") === 1) || col("has_stream") === 1)
        && col("has_window") === 0)
      .select(col("doc_id"), col("has_spark"), col("has_join"), col("has_stream"))
      .orderBy(col("doc_id"))
  }

  /** Q-STATS: corpus statistics (single row). */
  def corpusStats(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = wordDocPairs(d)
    val tokenTotal = d.select(
      sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"),
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"))
    val wordTotal = pairs.agg(
      countDistinct(col("word")).as("n_distinct_words"),
      count(lit(1)).as("n_postings"))
    tokenTotal.crossJoin(wordTotal)
      .select(col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_distinct_words"), col("n_postings"))
  }

  /** Text-quality scoring per document (training-data filtering
    * signals: length, token stats, punctuation + stopword ratios).
    */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.subwordCount(col("text")).cast("long").as("n_subwords"),
      TextAnalysis.avgTokenLen(col("text")).as("avg_token_len"),
      TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
      TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"))
      .orderBy(col("doc_id"))

  /** Language-ID by marker-word voting. */
  def langId(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextAnalysis.langScore(col("text"), "en").cast("long").as("score_en"),
      TextAnalysis.langScore(col("text"), "de").cast("long").as("score_de"),
      TextAnalysis.langScore(col("text"), "es").cast("long").as("score_es"),
      TextAnalysis.langScore(col("text"), "fr").cast("long").as("score_fr"),
      TextAnalysis.langPredict(col("text")).as("predicted_lang"))
      .orderBy(col("doc_id"))

  /** TF-IDF ranked retrieval: score documents for a fixed query word
    * set by Σ tf(d,w)·ln(N/df(w)), top-10. The natural scoring query
    * of an inverted index (tf from the token stream, df from the
    * posting lists, one aggregation each).
    */
  def tfidfSearch(s: SparkSession, dir: String,
      query: Seq[String] = Seq("spark", "join", "window")): DataFrame = {
    val d = docs(s, dir)
    // corpus size N folded in as a broadcast one-row scalar (the same
    // shape Catalyst gives an uncorrelated scalar subquery) instead of
    // a driver-side d.count(): keeps the whole search a single job and
    // a single scan of documents
    val n = d.agg(count(lit(1)).cast("double").as("n_docs"))
    val toks = d
      .select(explode(split(col("text"), "\\s+")).as("tok"), col("doc_id"))
      .select(InvertedIndex.normalizeToken(col("tok")).as("word"), col("doc_id"))
      .filter(col("word").isin(query: _*))
    val tf = toks.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("word")).agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(df_), Seq("word"))
      .crossJoin(broadcast(n))
      .withColumn("w_score", col("tf") * log(col("n_docs") / col("df")))
      .groupBy(col("doc_id"))
      .agg(graft.functions.Rounding.portableRound4(sum(col("w_score"))).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
  }

  /** Phrase search via a positional index: documents containing the
    * exact normalized-token sequence, found by joining word postings
    * on adjacent positions — the operator a bag-of-words index cannot
    * answer and a positional one exists for.
    */
  def phraseSearch(s: SparkSession, dir: String,
      phrase: Seq[String] = Seq("the", "table")): DataFrame = {
    val positional = docs(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), "\\s+")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"),
        InvertedIndex.normalizeToken(col("tok")).as("word"))
      .filter(length(col("word")) > 0)
    // join posting of word_i at position p with word_{i+1} at p+1
    val first = positional.filter(col("word") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.tail.zipWithIndex.foldLeft(first) { case (acc, (w, i)) =>
      val next = positional.filter(col("word") === w)
        .select(col("doc_id").as("d2"), col("pos").as("p2"))
      acc.join(next, acc("doc_id") === col("d2") && acc("pos") + (i + 1) === col("p2"))
        .select(col("doc_id"), col("pos"))
    }
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("doc_id"))
  }

  /** Top-k bigram frequencies over normalized tokens — the n-gram
    * counting pass of a corpus-analysis pipeline. Empty tokens are
    * dropped BEFORE pairing (adjacency is over surviving words), and
    * the normalized token array is materialized in its own projection
    * before the pairing lambda (HOF lambdas get no common-subexpression
    * elimination — re-tokenizing per element is the measured 10x cliff
    * from Dedup.shingleHashes).
    */
  def bigramFreq(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        filter(
          transform(split(col("text"), "\\s+"), t => InvertedIndex.normalizeToken(t)),
          w => length(w) > 0).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("ws")) - 2),
        i => concat_ws(" ", element_at(col("ws"), i + 1), element_at(col("ws"), i + 2))))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(k)

  /** PMI collocation extraction: adjacent word pairs whose co-occurrence
    * beats independence — `pmi = log2(P(ab) / (P(a)·P(b)))` — the
    * standard corpus-linguistics pass for multiword expressions, and a
    * cheap phrase-vocabulary miner for a tokenizer pipeline. Tokens are
    * the engine-wide normalized word universe (same as [[bigramFreq]] /
    * the index), pairs are adjacency over surviving words, and only
    * pairs seen ≥ `minCount` times are reported (PMI is noise for rare
    * pairs).
    *
    * Cross-engine determinism is arranged, not hoped for: the PMI
    * argument is computed as `((c_ab·Nu)·Nu) / ((c_a·c_b)·Nb)` with
    * every intermediate product an integer below 2⁵³ at verify scale —
    * each multiply is exact, the single divide is correctly rounded, so
    * the double reaching `log`/round4 is bit-identical in any IEEE
    * engine; the oracle SQL parenthesizes the same way.
    *
    * Scale: two token-keyed aggregations (unigram, bigram — each one
    * shuffle with map-side partials), the two totals ride along as
    * one-row broadcasts, and the unigram side joins back by word —
    * vocabulary-sized, orders of magnitude under corpus-sized. No
    * window, no self-join.
    */
  def pmiCollocations(s: SparkSession, dir: String, minCount: Int = 5): DataFrame = {
    val ws = docs(s, dir)
      .select(col("doc_id"),
        filter(
          transform(split(col("text"), "\\s+"), t => InvertedIndex.normalizeToken(t)),
          w => length(w) > 0).as("ws"))
    val uni = ws
      .select(explode(col("ws")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
    val bi = ws
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("ws")) - 2),
        i => struct(element_at(col("ws"), i + 1).as("w1"),
          element_at(col("ws"), i + 2).as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val totU = uni.agg(sum(col("c")).as("nu"))
    val totB = ws.filter(size(col("ws")) >= 2)
      .agg(sum(size(col("ws")) - 1).cast("long").as("nb"))
    val lift = ((col("c_ab").cast("double") * col("nu")) * col("nu")) /
      ((col("c_a").cast("double") * col("c_b")) * col("nb"))
    bi
      .join(uni.select(col("word").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(totU))
      .crossJoin(broadcast(totB))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        graft.functions.Rounding.portableRound4(log(lift) / log(lit(2.0))).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
  }

  /** (doc_id, ws) with the engine-wide normalized token list. */
  private def normWords(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        filter(
          transform(split(col("text"), "\\s+"), t => InvertedIndex.normalizeToken(t)),
          w => length(w) > 0).as("ws"))

  /** Distinct (doc_id, off) token positions covered by any of the `k`
    * highest-doc-frequency bigrams (the boilerplate set). Shared by
    * the coverage report and the strip pass.
    */
  private[graft] def coveredOffsets(d: DataFrame, k: Int): DataFrame = {
    // HASHED df aggregate (r20, guide §2.3 — the repeatedSpans /
    // shingleHashes move the r19 verdict called for here): the bigram
    // is a grouping key whose only output surface is the top-k
    // TIE-BREAK, so the df aggregate runs over seeded 64-bit hashes —
    // both countDistinct exchanges move (long, long) rows instead of
    // rebuilt two-word strings, and no concat_ws string is built for
    // the df pass at all (measured r20: the string-keyed df job was
    // 2.6 s of the 3.3 s query wall at sf0.1). The (df desc, gram asc)
    // top-k stays EXACT: downstream coverage consumes only the top-k
    // SET, and gram strings can only decide membership at the df
    // boundary — so with t = the k-th largest df, every gram with
    // df > t is in (fewer than k by construction of t), and ONLY a
    // df == t boundary wider than the remaining seats pays a string
    // pass, filtered to the tied hashes with strings built for
    // survivors alone. Hash collisions merge two grams' dfs — the
    // 2^-64 contract every hashed-key pipeline here already carries.
    // The probe stays a literal in-set (now over longs — cheaper than
    // the string InSet it replaces, same plan shape, Round10Spec pins
    // it); the df relation is persisted for its two driver reads and
    // released in the same call (no checkpoint residue — the r11
    // battery-drift class the old recompute design guarded against).
    val dd = d.filter(size(col("ws")) >= 2)
    def bigramHashes = transform(
      sequence(lit(0), size(col("ws")) - 2),
      i => xxhash64(element_at(col("ws"), i + 1), element_at(col("ws"), i + 2)))
    val dfh = dd
      .select(col("doc_id"), explode(bigramHashes).as("gh"))
      .groupBy(col("gh")).agg(countDistinct(col("doc_id")).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val winners: Seq[Long] = try {
      val topDfs = dfh.orderBy(col("df").desc).limit(k)
        .select(col("df")).collect().map(_.getLong(0))
      if (topDfs.length < k) // vocabulary smaller than k: everything wins
        dfh.select(col("gh")).collect().map(_.getLong(0)).toSeq
      else {
        val t = topDfs.min
        val atLeast = dfh.filter(col("df") >= t)
          .select(col("gh"), col("df")).collect()
        val over = atLeast.filter(_.getLong(1) > t).map(_.getLong(0)).toSeq
        val boundary = atLeast.filter(_.getLong(1) == t).map(_.getLong(0)).toSeq
        val need = k - over.size
        if (boundary.size <= need) over ++ boundary
        else {
          // ties at the k boundary: resolve ONLY the tied hashes to
          // gram strings — hash filter first, strings built for the
          // survivors alone — and seat the `need` smallest by gram asc
          val tied = dd
            .select(col("ws"), posexplode(bigramHashes).as(Seq("p", "gh")))
            .filter(col("gh").isInCollection(boundary))
            .select(col("gh"), concat_ws(" ",
              element_at(col("ws"), col("p") + 1),
              element_at(col("ws"), col("p") + 2)).as("gram"))
            .distinct().collect()
          over ++ tied.sortBy(_.getString(1)).take(need)
            .map(_.getLong(0)).toSeq
        }
      }
    } finally dfh.unpersist(false)
    dd.select(col("doc_id"), posexplode(bigramHashes).as(Seq("p", "gh")))
      .filter(col("gh").isInCollection(winners))
      .select(col("doc_id"), explode(array(col("p"), col("p") + 1)).as("off"))
      .distinct()
  }

  /** Exact repeated-span coverage — the Lee-et-al. ("Deduplicating
    * Training Data Makes Language Models Better") exact-substring
    * signal, distinct from [[boilerplate]] in both semantics and plan:
    * EVERY `l`-token window that occurs in ≥ `minDf` distinct documents
    * counts (unbounded repeated-span vocabulary, not a top-k set), and
    * each document reports how much of its token stream such cross-doc
    * repeated spans cover (position union, overlaps not double-counted).
    * The fraction is the drop/trim signal exact-substring dedup
    * thresholds on; at L=8 natural re-use is rare, so coverage ≈
    * copied text.
    *
    * Scale shape: one corpus pass emits positioned l-grams (persisted
    * for exactly the two jobs that share them — the df aggregate and
    * the coverage join — then unpersisted in a finally, the
    * [[Graphs.pageRank]] discipline, so a gate battery never
    * accumulates gram-sized cache blocks); the repeated-gram set is
    * df ≥ minDf over a gram-keyed aggregate (one shuffle, map-side
    * partials); coverage joins grams to that set ON THE GRAM KEY — a
    * plain shuffle equi-join, because unlike [[boilerplate]]'s top-50
    * the repeated set is corpus-sized and must never broadcast.
    * Position explode is bounded by l × matching grams; the per-doc
    * distinct + count is a shuffle over matching positions only, and
    * only that small per-doc aggregate (one row per covered doc) is
    * checkpointed into the returned plan.
    */
  def repeatedSpans(s: SparkSession, dir: String, l: Int = 8,
      minDf: Int = 2): DataFrame = {
    val d = normWords(s, dir)
    // the l-gram is only ever a grouping/join KEY (the df ≥ minDf set
    // has no tie-break or output surface, unlike [[boilerplate]]'s
    // top-k), so it is reduced to a seeded 64-bit hash immediately —
    // the [[Dedup.shingleHashes]] move: the df aggregate and the
    // coverage join then shuffle 8-byte longs instead of rebuilt
    // ~l-word strings (which also cost a concat_ws string copy per
    // position to emit). Collision odds at 2^64 are negligible and
    // affect only which spans count as repeated, exactly like the
    // shingle pipeline.
    val grams = d.filter(size(col("ws")) >= l)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("ws")) - l),
        i => xxhash64((0 until l).map(j => element_at(col("ws"), i + j + 1)): _*)))
        .as(Seq("p", "gram")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val covered = try {
      val rep = grams
        .groupBy(col("gram")).agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= minDf)
        .select(col("gram"))
      grams
        .join(rep, Seq("gram"))
        .select(col("doc_id"), explode(sequence(col("p"), col("p") + (l - 1))).as("off"))
        .distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
        // eager: one row per covered doc — the only state that outlives
        // this call, 10⁴× smaller than the gram stream it summarizes
        .localCheckpoint(true)
    } finally grams.unpersist(false)
    d.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          graft.functions.Rounding.portableRound4(
            coalesce(col("n_covered"), lit(0L)).cast("double") / col("n_tokens")))
          .as("rep_frac"))
      .orderBy(col("doc_id"))
  }

  /** Boilerplate-span coverage per document — the C4/RefinedWeb-style
    * "repeated across many pages" signal: the `k` word-bigrams that
    * occur in the most distinct documents are declared boilerplate,
    * and each document reports how much of its token stream those
    * spans cover (union of covered positions, so overlapping spans
    * are not double-counted). High coverage → navigation chrome /
    * template text; the fraction is the filter signal a curation
    * pass thresholds on.
    *
    * Scale shape: three bounded stages, no self-join. (1) One
    * corpus pass emits positioned bigrams; their doc-frequency
    * aggregate is one shuffle with map-side partials. (2) The
    * boilerplate set is `orderBy(df).limit(k)` — a distributed
    * TakeOrdered over the gram vocabulary, never a global sort —
    * and at k=50 it broadcasts. (3) Occurrences join the broadcast
    * set (corpus side stays in scan order), explode to covered
    * offsets, and the position-union distinct + per-doc count is a
    * shuffle over only the MATCHING positions (≤ corpus bigrams,
    * typically a small fraction). The final left join re-attaches
    * zero-coverage docs from the narrow per-doc token counts.
    */
  def boilerplate(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    // tokenize ONCE (r20): the df pass, the probe pass and the per-doc
    // token counts all read the persisted token arrays; the two
    // surviving per-doc aggregates are cut eagerly (doc-count-sized,
    // the repeatedSpans discipline) so the cache releases before the
    // plan is returned — the old shape re-tokenized the corpus three
    // times per execution (measured 0.35 s per pass at sf0.1)
    val d = normWords(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val covered = coveredOffsets(d, k)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
        .localCheckpoint(true)
      d.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
        .localCheckpoint(true)
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"),
          when(col("n_tokens") === 0, lit(0.0)).otherwise(
            graft.functions.Rounding.portableRound4(
              coalesce(col("n_covered"), lit(0L)).cast("double") / col("n_tokens")))
            .as("boiler_frac"))
        .orderBy(col("doc_id"))
    } finally d.unpersist(false)
  }

  /** Boilerplate STRIP — the write path of [[boilerplate]]: drop every
    * covered token position and re-assemble each document's surviving
    * token stream (order preserved). The cleaned text is emitted as an
    * md5 fingerprint (the gate contract is scalar columns; same
    * convention as the PII-redaction query) plus kept/total counts, so
    * the whole reconstruction is hash-verified against the oracle.
    *
    * Scale shape: covered offsets per doc collapse to ONE array row
    * (`collect_set`, map-side combinable, bounded by the doc's own
    * length), the join back to the corpus is doc-keyed (narrow rows —
    * id + positions), and the reconstruction is a pure projection:
    * `array_except` over the position sequence keeps surviving
    * positions IN ORDER, `transform` maps them back to tokens. No
    * corpus-sized shuffle beyond the one doc-keyed join; documents
    * with no boilerplate ride the left join untouched.
    */
  def boilerplateStrip(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    // tokenize-once as in [[boilerplate]]; the reconstruction
    // projection needs the full token arrays, so only the covered-
    // position aggregate (bounded by matching positions) cuts eagerly
    // and the final pass re-tokenizes exactly once at action time
    val d = normWords(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val covPerDoc = try {
      coveredOffsets(d, k)
        .groupBy(col("doc_id")).agg(collect_set(col("off")).as("cov"))
        .localCheckpoint(true)
    } finally d.unpersist(false)
    normWords(s, dir).join(covPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ws"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        transform(
          array_except(
            // sequence(0, -1) would yield [0, -1], not [] — guard the
            // empty-token-list doc explicitly
            when(size(col("ws")) === 0, array().cast("array<int>"))
              .otherwise(sequence(lit(0), size(col("ws")) - 1)),
            col("cov")),
          i => element_at(col("ws"), i + 1)).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  /** Exact corpus-wide top-`k` token frequencies — the hash-verified
    * companion of the CMS+Misra–Gries sketch (`q_heavy_hitters`):
    * same normalized word universe, counts every occurrence (not
    * per-doc distinct), so the sketch's estimates can be judged
    * against gate-visible exact numbers. One tokenize pass, one
    * count aggregate with map-side partials, distributed TakeOrdered
    * for the top-k — no global sort, no window.
    */
  def topTokensExact(s: SparkSession, dir: String, k: Int = 50): DataFrame =
    docs(s, dir)
      .select(explode(filter(
        transform(split(col("text"), "\\s+"), t => InvertedIndex.normalizeToken(t)),
        w => length(w) > 0)).as("value"))
      .groupBy(col("value")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("value").asc)
      .limit(k)

  /** Posting-list compression report: every word's sorted doc-id list
    * encoded with the delta+zigzag-varint codec
    * ([[graft.functions.PostingCodec]] — Lucene-VInt-style), rolled up
    * per first letter: posting count, raw (8 B/posting) vs encoded
    * bytes, compression ratio, and an in-query decode(encode(x)) == x
    * round-trip count (must equal the word count — the oracle pins
    * it). The oracle recomputes the encoded size EXACTLY via an
    * integer case-ladder over zigzag values (varint length is a pure
    * function of magnitude), so the codec's byte accounting is
    * hash-verified cross-engine, not just spec-asserted.
    *
    * Scale shape: one posting aggregation (the same shuffle the index
    * itself pays), then a pure codegen projection (both codec
    * directions are native expressions inside WholeStageCodegen) and
    * a 26-row letter rollup.
    */
  def postingCompression(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PostingCodec.{postingDecode, postingEncode}
    val postings = wordDocPairs(docs(s, dir))
      .groupBy(col("word"))
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
    postings
      .withColumn("enc", postingEncode(col("ids")))
      .withColumn("ok", (postingDecode(col("enc")) === col("ids")).cast("long"))
      .groupBy(substring(col("word"), 1, 1).as("letter"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("ids"))).cast("long").as("n_postings"),
        (sum(size(col("ids"))) * 8).cast("long").as("raw_bytes"),
        sum(length(col("enc"))).cast("long").as("enc_bytes"),
        sum(col("ok")).as("n_roundtrip_ok"))
      .withColumn("ratio", graft.functions.Rounding.portableRound4(
        col("raw_bytes").cast("double") / col("enc_bytes")))
      .orderBy(col("letter"))
  }

  /** Compression-ratio quality signal per document: deflate(bytes) /
    * raw bytes. Complements [[repetition]]'s bounded n-gram metrics
    * with LONG-range redundancy detection (templated spans anywhere
    * in the doc shrink the ratio; a bounded n-gram window can't see
    * them). Rows-only gate entry — the byte count is a property of
    * the compressor, not the data model, so no cross-engine oracle
    * exists by construction; CompressionSignalSpec pins monotonicity
    * (repetitive ≪ shuffled-random), range, and run-to-run stability.
    *
    * Scale shape: one codegen projection, zero shuffles beyond the
    * final sort — identical cost profile to the other per-doc
    * signals.
    */
  def compressRatio(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graft.functions.CompressionSignal.deflateLength(col("text"))
          .cast("long").as("deflate_bytes"))
      .withColumn("ratio", graft.functions.Rounding.portableRound4(
        col("deflate_bytes").cast("double") /
          greatest(col("n_bytes"), lit(1L)).cast("double")))
      .orderBy(col("doc_id"))
  }

  /** Index snapshot diff: what a corpus change did to the inverted
    * index, word by word — `added` (new vocabulary), `removed`
    * (vocabulary lost with the dropped docs), `changed` (document
    * frequency moved). The "old" snapshot here is the corpus without
    * `source = src0` (a deterministic stand-in for the previous crawl);
    * production diffs two index versions the same way. This is the
    * audit report an incremental index merge ([[IndexStore.merge]])
    * is validated against.
    *
    * Scale shape: two df aggregates (each one shuffle, map-side
    * partials) full-outer-joined on the word key — vocabulary-sized
    * inputs, never corpus-sized; unchanged words are filtered out so
    * the report is delta-sized.
    */
  def indexDiff(s: SparkSession, dir: String): DataFrame = {
    val all = docs(s, dir)
    indexDiffOn(all, all.filter(col("source") =!= "src0"))
  }

  /** Frame-level diff of two corpus versions' word document
    * frequencies; see [[indexDiff]] for semantics.
    */
  def indexDiffOn(newDocs: DataFrame, oldDocs: DataFrame): DataFrame = {
    def df(d: DataFrame): DataFrame =
      wordDocPairs(d).groupBy(col("word")).agg(count(lit(1)).as("n_docs"))
    df(newDocs).as("n").join(df(oldDocs).as("o"), Seq("word"), "full_outer")
      .select(col("word"),
        coalesce(col("o.n_docs"), lit(0L)).as("df_old"),
        coalesce(col("n.n_docs"), lit(0L)).as("df_new"))
      .withColumn("status",
        when(col("df_old") === 0, lit("added"))
          .when(col("df_new") === 0, lit("removed"))
          .when(col("df_old") =!= col("df_new"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .orderBy(col("word"))
  }

  /** Canonical-content fingerprint per document. */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Repetition / lexical-diversity quality signals per document — the
    * Gopher-style filters a training pipeline runs alongside the
    * length/punct gates: repeated-token ratio (1 − distinct/total),
    * most-frequent-token mass, and Shannon token entropy (in bits,
    * computed as log2(N) − Σn·log2(n)/N so it folds into the same
    * aggregate as the counts — no second pass over the token stream).
    *
    * Two map-side-combinable aggregations, both keyed by doc_id (the
    * (doc_id, tok) partial collapses each document's repeats before the
    * shuffle), so the plan is one scan + two bounded shuffles at any
    * corpus size.
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val cnt = docs(s, dir)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("n"))
    // Σ n·log2(n) is an irrational-term float sum, so a plain `sum`
    // aggregate would be combine-order-dependent (ulp drift across
    // partitionings — the one thing the oracle hash compare can't
    // absorb). The counts are collected into a SORTED per-doc array
    // and folded left-to-right instead: deterministic at any
    // parallelism and bit-equal to DuckDB's list_reduce over the same
    // ordered list. The fold is an interpreted HOF, but it runs over
    // per-doc distinct-count arrays (bounded by doc length — same
    // state bound as the text column itself), not the corpus.
    cnt.groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("n")).as("max_n"),
        sort_array(collect_list(col("n"))).as("ns"))
      .withColumn("nlogn", aggregate(col("ns"), lit(0.0),
        (acc, x) => acc + x.cast("double") * log2(x.cast("double"))))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        graft.functions.Rounding.portableRound4(
          lit(1.0) - col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .as("rep_ratio"),
        graft.functions.Rounding.portableRound4(
          col("max_n").cast("double") / col("n_tokens").cast("double"))
          .as("max_tok_frac"),
        graft.functions.Rounding.portableRound4(
          log2(col("n_tokens").cast("double")) - col("nlogn") / col("n_tokens").cast("double"))
          .as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** BM25 ranked retrieval — the scoring function production IR
    * engines actually use (Robertson/Spärck Jones; tf saturation via
    * k1, length normalization via b), over the same normalized word
    * universe as the index.
    *
    * Shape: the tokenize projection is written once (`withLen`) and
    * evaluated by two consumers — the (N, avgdl) scalar and the tf
    * explode — i.e. two scans of documents, zero extra shuffles; the
    * same recompute-over-pin trade documented at Dedup's shingle
    * stage. N and avgdl ride along as a broadcast one-row scalar,
    * df as a broadcast |query|-row table, so the whole query is one
    * scan of documents plus broadcast-joined small sides — the same
    * scale shape as [[tfidfSearch]]. avgdl is total tokens / total
    * docs (empty docs count in the denominator; they can't score
    * anyway).
    */
  def bm25Search(s: SparkSession, dir: String,
      query: Seq[String] = Seq("spark", "join", "window"),
      k1: Double = 1.2, b: Double = 0.75, limit: Int = 10): DataFrame = {
    val withLen = docs(s, dir)
      .select(col("doc_id"),
        filter(
          transform(split(col("text"), "\\s+"), t => InvertedIndex.normalizeToken(t)),
          w => length(w) > 0).as("ws"))
      .withColumn("dl", size(col("ws")).cast("double"))
    val stats = withLen.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")) / count(lit(1)).cast("double")).as("avgdl"))
    val tf = withLen
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("word"))
      .filter(col("word").isin(query: _*))
      .groupBy(col("doc_id"), col("dl"), col("word"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df_ = tf.groupBy(col("word")).agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))
    tf.join(broadcast(df_), Seq("word"))
      .crossJoin(broadcast(stats))
      .withColumn("w_score", idf * col("tf") * lit(k1 + 1.0) / norm)
      .groupBy(col("doc_id"))
      .agg(graft.functions.Rounding.portableRound4(sum(col("w_score"))).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(limit)
  }
}
