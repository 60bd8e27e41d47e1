package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.IndexWords

/** The reference's whole dataflow (SURVEY §2.1 O1–O14) as one declarative
  * Spark plan. Semantics per reference:
  *
  *  - tokenize on whitespace            (`src/mapper.c:38-55`)
  *  - keep alphabetic chars, lowercase  (`src/mapper.c:56-64`)
  *  - drop empty tokens                 (`src/mapper.c:66-69`)
  *  - per-file distinct                 (`src/mapper.c:71-97`)
  *  - word → sorted distinct file IDs   (`src/reducer.c:42-105`)
  *
  * The first three steps are one codegen'd byte-scan kernel,
  * [[graft.functions.IndexWords]] (`index_words`), exploded into
  * (word, file_id) rows inside the scan's WholeStageCodegen stage. It is
  * property-tested equal to `split(\s+)` → [[normalizeToken]] →
  * non-empty, the regex form that [[normalizeToken]]'s other callers
  * keep. Map-side partial aggregation plays the role of the reference's
  * hand-rolled per-file dedup (the `collect_set` partial agg dedups
  * before shuffle, so shuffle volume is distinct (word, file_id) pairs,
  * exactly what the reference ships between its stages).
  *
  * Scale posture: one shuffle, hash-partitioned on `word` — the
  * reference's 26-way letter-modulo partitioning is an implementation
  * accident with Zipfian skew and is NOT reproduced here (SURVEY §7.6);
  * only the [[LetterTextSink]] groups by letter, after the aggregate.
  * Posting lists are bounded by corpus file count per word; for corpora
  * where a single word's posting list may outgrow an aggregation buffer
  * [[buildGated]] switches to [[buildSortMerge]] (`repartition(word)
  * .sortWithinPartitions` + streaming consecutive-dedup merge), gated
  * on the file-count bound by [[SortMergeFileThresholdKey]]. Both paths
  * are golden-diffed byte-identical.
  */
object InvertedIndex {

  /** Normalize a token the way the reference does: strip everything
    * non-alphabetic, lowercase (`That's`→`thats`, `abc123`→`abc`).
    */
  def normalizeToken(c: Column): Column =
    lower(regexp_replace(c, "[^A-Za-z]+", ""))

  /** (file_id, value) lines → (word, file_id) pairs, one per word
    * occurrence; [[build]]'s partial aggregate makes them distinct.
    */
  def wordFilePairs(docs: DataFrame): DataFrame =
    docs.select(explode(IndexWords(col("value"))).as("word"), col("file_id"))

  /** (file_id, value) lines → (word, file_ids ARRAY<INT> ascending). */
  def build(docs: DataFrame): DataFrame =
    wordFilePairs(docs)
      .groupBy("word")
      .agg(array_sort(collect_set(col("file_id"))).as("file_ids"))

  /** Config: file-count bound above which [[buildGated]] switches from
    * the hash `collect_set` aggregation to [[buildSortMerge]]. A
    * posting list holds FILE ids, so the corpus file count is an exact
    * upper bound on any single list's cardinality — a bound known for
    * free from the manifest, no data job. The default (2²² files ≈
    * 16 MB of ints for a stopword's list) keeps the faster hash path
    * for every realistic single-box corpus while guaranteeing the
    * Zipfian head of a 10⁹-document corpus can never OOM an
    * aggregation buffer.
    */
  val SortMergeFileThresholdKey = "spark.graft.index.sortMergeFileThreshold"
  val SortMergeFileThresholdDefault: Long = 1L << 22

  /** [[build]] with the scale gate applied: hash aggregation while the
    * posting-list cardinality bound (`fileCount`) stays under the
    * configured threshold, sort-merge beyond it. Both paths are
    * row-identical by construction (golden-diffed and property-tested
    * on a degenerate every-word-in-every-file corpus).
    */
  def buildGated(docs: DataFrame, fileCount: Long): DataFrame = {
    val threshold = docs.sparkSession.conf
      .getOption(SortMergeFileThresholdKey).map(_.toLong)
      .getOrElse(SortMergeFileThresholdDefault)
    if (fileCount > threshold) buildSortMerge(docs) else build(docs)
  }

  /** Sort-based posting-list aggregation — the scale fallback promised
    * for corpora where a single head word's posting list outgrows an
    * aggregation buffer (at 10⁹ documents a stopword's list IS the
    * corpus). `collect_set` holds one hash set per group per task in
    * memory; this path instead shuffles the distinct pairs
    * hash-partitioned by word, sorts WITHIN each partition by
    * (word, file_id) — Spark's external sort spills to disk, so the
    * sort is never memory-bound — and streams the sorted runs through
    * a consecutive-dedup merge that materializes exactly ONE word's
    * ids at a time. Peak memory per task drops from
    * Σ posting lists in the task's hash map to max single list — and a
    * deployment whose single hottest list outgrows even that would
    * segment the OUTPUT row (word, id-range chunk), which the sorted
    * stream already emits in order.
    *
    * Shuffle volume is identical to [[build]]'s (distinct pairs after
    * the map-side partial dedup is replaced by the sort's dedup — the
    * raw pairs), traded for memory safety; same output rows.
    */
  def buildSortMerge(docs: DataFrame): DataFrame = {
    val pairs = wordFilePairs(docs)
    val s = pairs.sparkSession
    import s.implicits._
    pairs
      .repartition(col("word"))
      .sortWithinPartitions(col("word"), col("file_id"))
      .select(col("word").as("_1"), col("file_id").as("_2"))
      .as[(String, Int)]
      .mapPartitions { it =>
        new Iterator[(String, Seq[Int])] {
          private var pending: (String, Int) = if (it.hasNext) it.next() else null
          def hasNext: Boolean = pending != null
          def next(): (String, Seq[Int]) = {
            val word = pending._1
            val ids = scala.collection.mutable.ArrayBuffer[Int](pending._2)
            pending = null
            while (pending == null && it.hasNext) {
              val p = it.next()
              if (p._1 == word) { if (p._2 != ids.last) ids += p._2 }
              else pending = p
            }
            (word, ids.toSeq)
          }
        }
      }
      .toDF("word", "file_ids")
  }

  /** Index rows in the reference's global output order:
    * (#files DESC, word ASC) — `src/reducer.c:108`, `src/utils.c:20-29`.
    */
  def ordered(index: DataFrame): DataFrame =
    index.orderBy(size(col("file_ids")).desc, col("word").asc)

  /** Formatted output line `word:[1 2 3]` (`src/reducer.c:132-139`). */
  def formattedLine(word: Column, fileIds: Column): Column =
    format_string("%s:[%s]", word, array_join(fileIds.cast("array<string>"), " "))
}
