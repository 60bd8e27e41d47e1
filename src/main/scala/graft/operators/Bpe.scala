package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Byte-pair-encoding merge training (Sennrich et al. 2016,
  * arXiv:1508.07909) — the tokenizer-vocabulary learning step of a
  * training-data pipeline, distributed the way production BPE trainers
  * actually run it.
  *
  * SCALE SHAPE — iterate on the WORD-FREQUENCY DICTIONARY, never the
  * corpus. The corpus is scanned exactly once (word counts); every
  * merge round then runs over the distinct-word relation — vocab-sized
  * (millions of rows at web scale, 31 here), orders of magnitude
  * smaller than the corpus — because a pair's corpus frequency is
  * exactly `sum(word_count · occurrences_in_word)`. This is the same
  * verify-on-distinct-values factorization as
  * [[EntityResolution]]: per-round cost is bounded by vocabulary, so
  * the k-round loop costs k · O(vocab) after one corpus scan, not
  * k · O(corpus).
  *
  * Per round (driver loop, pagerank discipline — persist the new
  * dictionary state, materialize, unpersist the old):
  *  1. adjacent-pair counts: explode each word's symbol sequence into
  *     (sym[i], sym[i+1]) pairs weighted by the word's corpus count —
  *     a narrow map + one vocab-sized hash aggregation;
  *  2. argmax pair via `orderBy(...).limit(1)` — planned as
  *     `TakeOrderedAndProject` (per-partition top-1, merged on the
  *     driver), never a global sort. Ties break deterministically by
  *     (count DESC, lhs ASC, rhs ASC);
  *  3. rewrite every word's symbol sequence with the winning merge —
  *     a greedy left-to-right fold (`aggregate` higher-order
  *     function, codegen'd): non-overlapping occurrences merge
  *     left-first, the classic BPE application order.
  *
  * Driver state is k merge rows + per-round loop control — bounded by
  * the requested vocabulary size, independent of data scale (the same
  * contract as [[Graphs.pageRank]]'s iteration scalars).
  *
  * Determinism: integer pair counts (exact under any aggregation
  * order), total-order tie-break, greedy fold — the DuckDB oracle
  * replays all three bit-for-bit as an unrolled CTE chain (one
  * pair-count + argmax + `list_reduce` rewrite block per round, the
  * [[Graphs]] unrolled-oracle pattern).
  *
  * Word model matches [[TrainingPrep.vocabulary]]: lowercased
  * whitespace tokens; each word ends with the `</w>` end-of-word
  * marker so merges can't cross word boundaries and a learned token
  * knows whether it is word-final (the original BPE formulation).
  */
object Bpe {

  private val EndOfWord = "</w>"

  /** Greedy left-to-right application of one merge (l, r) to a symbol
    * sequence: fold symbols into an accumulator, merging when the
    * accumulator's last element is `l` and the incoming symbol is `r`.
    * A merged `l||r` can itself be the left side of a later fold step
    * only in a LATER round (exactly BPE's non-overlapping scan: in
    * "l l l" the first two merge, the third survives).
    */
  private[graft] def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(
      syms,
      typedLit(Seq.empty[String]),
      (acc, x) =>
        when(
          size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(x))))

  /** Lowercased-whitespace word counts for a document relation — the
    * BPE train input, shared by the batch [[dictionary]] and the
    * streaming maintenance stage
    * ([[graft.streaming.EventStream.maintainDictionary]]): word counts
    * are algebraic, so per-batch counts staged independently merge
    * exactly into the corpus dictionary. */
  def wordCounts(docs: DataFrame): DataFrame = {
    val toks = filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
    docs.select(explode(toks).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
  }

  /** Initial symbol sequence for a word: chars + end-of-word marker. */
  private def initSyms(word: Column): Column =
    concat(filter(split(word, ""), c => length(c) > 0),
      array(lit(EndOfWord)))

  /** Attach the initial symbol sequence to a (word, cnt) relation. */
  private[graft] def withSyms(words: DataFrame): DataFrame =
    words.withColumn("syms", initSyms(col("word")))

  /** Weighted adjacent-pair counts over the current dictionary. */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("cnt"), explode(expr(
        "transform(slice(syms, 1, size(syms)-1)," +
          " (s, i) -> struct(s AS lhs, element_at(syms, i+2) AS rhs))")).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("cnt")).as("pair_count"))

  /** Run the k-round merge loop. Returns the learned merges and the
    * FINAL dictionary state (word, cnt, syms) with every merge
    * applied, still persisted — the caller owns its unpersist. The
    * train query reads only the merges; the encode query reads only
    * the final dictionary.
    */
  private[graft] def trainLoop(initial: DataFrame, merges: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    var words = initial.persist(StorageLevel.MEMORY_AND_DISK)
    words.count()
    val learned = ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val top = pairCounts(words)
        .orderBy(col("pair_count").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((step, l, r, l + r, c))
        val next = words
          .withColumn("syms", applyMerge(col("syms"), l, r))
          .persist(StorageLevel.MEMORY_AND_DISK)
        next.count()
        words.unpersist()
        words = next
        step += 1
      }
    }
    (learned.toSeq, words)
  }

  /** [[DriverCutover]] cap of the DRIVER train loop, in dictionary
    * words: below it the (word, cnt) dictionary collects once and the k
    * merge rounds run as plain Scala (bit-identical counts, argmax
    * tie-break and greedy rewrite — asserted against the distributed
    * loop in Round19OptSpec), replacing 2 scheduled jobs PER ROUND
    * (argmax collect + persist materialization) with zero. 2²⁰ words ×
    * ~20 B ≈ 20 MB driver state, the same order as the broadcast the
    * encode tail already builds from the SAME relation. */
  private val DriverVocabCap = 1L << 20

  /** UTF-8 binary order — what Spark's UTF8String orderBy and DuckDB's
    * varchar ORDER BY both compare. Java String.compareTo (UTF-16 code
    * units) disagrees for supplementary-plane vs [U+E000, U+FFFF]
    * codepoints, so the driver argmax must not use it. */
  private def u8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Initial symbols of a word on the driver: one string per CODE
    * POINT plus the end-of-word marker — the same boundaries Java's
    * zero-width regex split (and hence [[initSyms]]'s `split(word,
    * "")`) produces. */
  private def charSymsDriver(w: String): Array[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out += EndOfWord
    out.toArray
  }

  /** The k merge rounds over a collected dictionary: weighted adjacent
    * pair counts, (count DESC, lhs ASC, rhs ASC) argmax in UTF-8 byte
    * order, greedy left-to-right rewrite — each the exact driver
    * restatement of [[pairCounts]], the `orderBy(...).limit(1)`
    * tie-break, and [[applyMerge]]'s fold. */
  private[graft] def trainMergesDriver(dict: Array[(Array[String], Long)],
      merges: Int): Seq[(Int, String, String, String, Long)] = {
    val words = dict.map { case (syms, cnt) =>
      (ArrayBuffer[String](syms.toIndexedSeq: _*), cnt) }
    val learned = ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, cnt) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + cnt)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { kv =>
          if (best == null) best = kv
          else {
            val c = java.lang.Long.compare(kv._2, best._2)
            if (c > 0 || (c == 0 && (u8Less(kv._1._1, best._1._1) ||
                (kv._1._1 == best._1._1 && u8Less(kv._1._2, best._1._2)))))
              best = kv
          }
        }
        val ((l, r), c) = best
        learned += ((step, l, r, l + r, c))
        val m = l + r
        words.foreach { case (syms, _) =>
          // in-place greedy fold: `write` is the accumulator length,
          // syms(write-1) its last element — a merge rewrites the last
          // accumulated symbol, exactly [[applyMerge]]'s `when` branch
          var read = 0
          var write = 0
          while (read < syms.length) {
            if (write > 0 && syms(write - 1) == l && syms(read) == r)
              syms(write - 1) = m
            else {
              syms(write) = syms(read)
              write += 1
            }
            read += 1
          }
          if (write < syms.length) syms.remove(write, syms.length - write)
        }
        step += 1
      }
    }
    learned.toSeq
  }

  /** Learned merges for a (word, cnt) dictionary: driver loop below
    * [[DriverVocabCap]] words, the distributed [[trainLoop]] above it. */
  private def learnedMerges(counts: DataFrame,
      merges: Int): Seq[(Int, String, String, String, Long)] =
    DriverCutover.collect("Bpe.learnedMerges", counts.select(col("word"), col("cnt")),
        DriverVocabCap) match {
      case Some(rows) => trainMergesDriver(
        rows.map(r => (charSymsDriver(r.getString(0)), r.getLong(1))), merges)
      case None =>
        val (learned, words) = trainLoop(withSyms(counts), merges)
        words.unpersist()
        learned
    }

  /** The learned merge table: (step, lhs, rhs, merged, pair_count),
    * one row per round, ordered by step. Stops early if the symbol
    * alphabet exhausts before `merges` rounds.
    */
  def bpeTrain(s: SparkSession, dir: String, merges: Int = 8): DataFrame =
    bpeTrainFromCounts(s, wordCounts(
      Tables.load(s, dir, "documents").select(col("text"))), merges)

  /** Train from an externally-maintained (word, cnt) dictionary — the
    * streaming-ingest shape: `maintainDictionary` keeps the word
    * counts always-fresh as documents arrive, and tokenizer
    * (re-)training reads the dictionary, never the corpus. Identical
    * merges to [[bpeTrain]] for identical counts (the train loop only
    * ever sees the dictionary). */
  def bpeTrainFromCounts(s: SparkSession, counts: DataFrame,
      merges: Int = 8): DataFrame = {
    import s.implicits._
    learnedMerges(counts, merges)
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
      .orderBy(col("step"))
  }

  /** ENCODE the corpus with the trained merges — the pass a pipeline
    * runs at full scale after training once: per document, the BPE
    * token count and the first `maxTokens` tokens (space-joined, the
    * [[TrainingPrep.vocabEncode]] scalar-output convention).
    *
    * Scale shape: tokenization is word→tokens, and the word→tokens
    * map IS the final dictionary state the train loop already holds —
    * vocab-sized, so it BROADCASTS onto a posexplode of the corpus
    * (the corpus is never shuffled by the lookup; the per-doc
    * re-assembly groupBy rides the scan partitioning with map-side
    * partials). When the vocabulary outgrows broadcast, the same plan
    * degrades to a shuffle hash join on `word` — still
    * corpus-scan + vocab-sized build side, never corpus × corpus.
    * Documents with no tokens are dropped (the oracle-stable choice,
    * matching vocabEncode).
    */
  def bpeEncode(s: SparkSession, dir: String,
      merges: Int = 8, maxTokens: Int = 12): DataFrame = {
    // the encoded vocabulary is REBUILT from the corpus's distinct
    // words by folding the k learned merges (one codegen'd projection
    // — the same chain the open-vocabulary path runs), which is
    // identical by construction to the train loop's final dictionary
    // state when encode corpus = train corpus. Driver state is only
    // the k merge pairs (plus, below the cap, the train dictionary
    // [[learnedMerges]] collects anyway).
    val learned = learnedMerges(wordCounts(
      Tables.load(s, dir, "documents").select(col("text"))), merges)
    val pairs = learned.map { case (_, l, r, _, _) => (l, r) }
    val docs = Tables.load(s, dir, "documents")
    val toks = filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
    val encodedVocab = docs.select(explode(toks).as("word")).distinct()
      .select(col("word"), applyMergesChain(initSyms(col("word")), pairs).as("syms"))
    encodeDocs(docs, encodedVocab, maxTokens)
  }

  /** DuckDB restatement of [[bpeTrain]] as an unrolled CTE chain (the
    * [[Graphs]] unrolled-oracle pattern): per round, a pair-count CTE
    * (`list_zip` of a list with its own tail), a `LIMIT 1` argmax with
    * the same (count DESC, lhs, rhs) tie-break, and a `list_reduce`
    * fold that replays the greedy left-to-right merge — the
    * accumulator is a list-of-symbols built from single-element lists,
    * so the reduce's element type carries the sequence state.
    */
  /** The shared w0→w_k CTE chain. `rewriteLast = false` skips the
    * final rewrite (the train query only reads the chosen pairs);
    * encode needs the fully-rewritten `w_k` dictionary. */
  private def dictChainSql(merges: Int, rewriteLast: Boolean,
      where: String = ""): String = {
    val base =
      s"""w0 AS (
         |  SELECT word, cnt, string_split(word, '') || ['</w>'] AS syms FROM (
         |    SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
         |      SELECT unnest(list_filter(
         |        regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)) AS w
         |      FROM documents $where) GROUP BY 1)
         |)""".stripMargin
    val steps = (1 to merges).map { i =>
      // LEFT JOIN ON TRUE + NULL guard, not a CROSS JOIN: if the pair
      // vocabulary exhausts before round i, t_i is EMPTY — a cross
      // join would collapse the whole dictionary chain to zero rows
      // (and the encode oracles built on w_k to an empty result),
      // while Spark's loop stops early and keeps the final dictionary.
      // With the guard, an empty t_i leaves w_i = w_{i-1}, every later
      // t_j stays empty, and both the train rows and the encode
      // dictionary match the Spark side's early-stop semantics.
      val rewrite =
        if (i == merges && !rewriteLast) ""
        else
          s""",
             |w$i AS (
             |  SELECT word, cnt,
             |    CASE WHEN t$i.l IS NULL THEN syms ELSE
             |      list_reduce(list_transform(syms, s -> [s]),
             |        (acc, x) -> CASE WHEN acc[-1] = t$i.l AND x[1] = t$i.r
             |                    THEN acc[1:len(acc)-1] || [t$i.l || t$i.r]
             |                    ELSE acc || x END) END AS syms
             |  FROM w${i - 1} LEFT JOIN t$i ON TRUE
             |)""".stripMargin
      s"""p$i AS (
         |  SELECT z[1] AS l, z[2] AS r, sum(cnt) AS c
         |  FROM (SELECT cnt, unnest(list_zip(syms, syms[2:])) AS z FROM w${i - 1})
         |  WHERE z[2] IS NOT NULL GROUP BY 1, 2
         |),
         |t$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l ASC, r ASC LIMIT 1)$rewrite"""
        .stripMargin
    }
    s"$base,\n${steps.mkString(",\n")}"
  }

  def bpeTrainOracleSql(merges: Int = 8): String = {
    val out = (1 to merges)
      // CAST: DuckDB's sum(BIGINT) is HUGEINT, which pandas renders as
      // float — the driver's exact hash compare then fails against
      // Spark's integer column even when every value matches.
      .map(i => s"SELECT $i AS step, l AS lhs, r AS rhs, l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM t$i")
      .mkString("\nUNION ALL\n")
    s"WITH ${dictChainSql(merges, rewriteLast = false)}\n$out\nORDER BY step"
  }

  /** Apply a learned merge sequence in order — k chained codegen
    * folds. Any word encodes (char-split then greedy merges), whether
    * or not it appeared in training: the BPE open-vocabulary
    * property. */
  private def applyMergesChain(syms: Column,
      merges: Seq[(String, String)]): Column =
    merges.foldLeft(syms) { case (c, (l, r)) => applyMerge(c, l, r) }

  /** Encode text the trainer NEVER SAW — the open-vocabulary path a
    * deployed tokenizer runs: merges are trained on the training
    * split only (`doc_id % 97 != 0`, the [[DatasetOps]] pseudo-split
    * discipline), then applied to the DISTINCT WORDS of the WHOLE
    * corpus — a word absent from training still char-splits and
    * greedily merges through the learned sequence, exactly like the
    * reference BPE (contrast [[bpeEncode]], whose dictionary join is
    * the fast path valid only when encode corpus = train corpus).
    *
    * Scale shape: the k merge applications run on the TARGET
    * vocabulary (distinct words — the only corpus-growth-resistant
    * quantity), as k chained `aggregate` folds in ONE codegen'd
    * projection; the encoded vocabulary then broadcasts onto the
    * corpus posexplode exactly as in [[bpeEncode]]. Driver state is
    * the k collected merge pairs.
    */
  def bpeEncodeHeldOut(s: SparkSession, dir: String,
      merges: Int = 8, maxTokens: Int = 12): DataFrame = {
    val docs = Tables.load(s, dir, "documents")
    val learned = learnedMerges(wordCounts(
      docs.filter(col("doc_id") % 97 =!= 0).select(col("text"))), merges)
    val pairs = learned.map { case (_, l, r, _, _) => (l, r) }
    val toks = filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
    val encodedVocab = docs.select(explode(toks).as("word")).distinct()
      .select(col("word"), applyMergesChain(initSyms(col("word")), pairs).as("syms"))
    encodeDocs(docs, encodedVocab, maxTokens)
  }

  /** Shared encode tail: broadcast a (word, syms) vocabulary onto the
    * corpus posexplode; per doc, Σ len(syms) + the ordered head. */
  private def encodeDocs(docs: DataFrame, dict: DataFrame,
      maxTokens: Int): DataFrame = {
    val toks = filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)
    docs.select(col("doc_id"), posexplode(toks).as(Seq("pos", "word")))
      .join(broadcast(dict), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(
        sum(size(col("syms"))).cast("long").as("n_bpe_tokens"),
        concat_ws(" ", slice(flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("syms")))),
          e => e.getField("syms"))), 1, maxTokens)).as("bpe_head"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB restatement of [[bpeEncode]]: the same CTE chain carried
    * one rewrite further (`w_k`), joined onto the per-doc word
    * positions; per doc, token count = Σ len(syms) and the head is
    * the flattened in-order token list truncated to `maxTokens`. */
  def bpeEncodeOracleSql(merges: Int = 8, maxTokens: Int = 12): String =
    s"""WITH ${dictChainSql(merges, rewriteLast = true)},
       |toks AS (
       |  SELECT doc_id, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS ts
       |  FROM documents),
       |ex AS (
       |  SELECT doc_id, unnest(ts) AS word, unnest(range(len(ts))) AS pos
       |  FROM toks WHERE len(ts) > 0),
       |j AS (SELECT e.doc_id, e.pos, w.syms
       |      FROM ex e JOIN w$merges w ON e.word = w.word),
       |agg AS (
       |  SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_bpe_tokens,
       |         flatten(list(syms ORDER BY pos)) AS all_toks
       |  FROM j GROUP BY doc_id)
       |SELECT doc_id, n_bpe_tokens,
       |       array_to_string(all_toks[1:$maxTokens], ' ') AS bpe_head
       |FROM agg ORDER BY doc_id""".stripMargin

  /** DuckDB restatement of [[bpeEncodeHeldOut]]: the train chain runs
    * over the TRAINING SPLIT only (t₁..t_k), then a second rewrite
    * chain v₀..v_k applies those merges to the distinct words of the
    * WHOLE corpus — a word the trainer never saw still char-splits
    * and folds through every learned merge, mirroring the Spark
    * side's open-vocabulary encode. */
  def bpeEncodeHeldOutOracleSql(merges: Int = 8, maxTokens: Int = 12): String = {
    // same exhaustion guard as the dictionary chain: an empty t_i must
    // leave the target vocabulary unrewritten, not annihilate it
    val vchain = (1 to merges).map { i =>
      s"""v$i AS (
         |  SELECT word,
         |    CASE WHEN t$i.l IS NULL THEN syms ELSE
         |      list_reduce(list_transform(syms, s -> [s]),
         |        (acc, x) -> CASE WHEN acc[-1] = t$i.l AND x[1] = t$i.r
         |                    THEN acc[1:len(acc)-1] || [t$i.l || t$i.r]
         |                    ELSE acc || x END) END AS syms
         |  FROM v${i - 1} LEFT JOIN t$i ON TRUE
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${dictChainSql(merges, rewriteLast = false,
          where = "WHERE doc_id % 97 <> 0")},
       |v0 AS (
       |  SELECT word, string_split(word, '') || ['</w>'] AS syms FROM (
       |    SELECT DISTINCT w AS word FROM (
       |      SELECT unnest(list_filter(
       |        regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)) AS w
       |      FROM documents))
       |),
       |$vchain,
       |toks AS (
       |  SELECT doc_id, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS ts
       |  FROM documents),
       |ex AS (
       |  SELECT doc_id, unnest(ts) AS word, unnest(range(len(ts))) AS pos
       |  FROM toks WHERE len(ts) > 0),
       |j AS (SELECT e.doc_id, e.pos, v.syms
       |      FROM ex e JOIN v$merges v ON e.word = v.word),
       |agg AS (
       |  SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_bpe_tokens,
       |         flatten(list(syms ORDER BY pos)) AS all_toks
       |  FROM j GROUP BY doc_id)
       |SELECT doc_id, n_bpe_tokens,
       |       array_to_string(all_toks[1:$maxTokens], ' ') AS bpe_head
       |FROM agg ORDER BY doc_id""".stripMargin
  }
}
