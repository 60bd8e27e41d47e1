package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Materialized inverted index: the serving-side counterpart of the
  * build pipeline. At 100 TB the index is not a set of text files —
  * it's a parquet table partitioned by first letter, so a posting
  * lookup prunes to ONE partition directory and a scan of one
  * word-range (verified via `PartitionFilters` in IndexStoreSpec).
  *
  * Letter partitioning mirrors the reference's output organization
  * (O15) but as a queryable table; the reference's skew concern
  * (Zipfian letters) applies to FILE SIZES only, not parallelism —
  * scans within a partition are still split by row group.
  */
object IndexStore {

  /** Build + persist the index partitioned by letter. */
  def materialize(docs: DataFrame, path: String): Unit =
    InvertedIndex.build(docs)
      .withColumn("letter", substring(col("word"), 1, 1))
      .write.mode("overwrite")
      .partitionBy("letter")
      .parquet(path)

  /** True while a [[merge]] or [[delete]] is mid-swap — the dynamic
    * overwrite may have replaced some touched letter dirs and not
    * others, so reads must refuse until the op is resumed (re-run the
    * same entry point; both resume from marker + staged rewrite
    * alone). The lifecycle family's guard discipline, local-FS
    * contract like the rest of it. */
  def pendingMaintenance(path: String): Boolean =
    Seq("merge", "delete").exists(CommitMarker(path, _).pending)

  def load(spark: SparkSession, path: String): DataFrame = {
    if (pendingMaintenance(path))
      throw new IllegalStateException(
        s"pending index maintenance at $path: re-run the interrupted " +
          "merge/delete to completion before reading")
    // EMPTY-STORE GUARD: an all-victim delete removes every letter
    // dir, leaving a marker-only tree — no parquet footer, so a naive
    // read dies on schema inference. An empty index is a valid index.
    // (A NONEXISTENT path still throws — only a present-but-emptied
    // tree reads as empty; a typo'd path must not.)
    val root = new java.io.File(path)
    if (root.exists() && !ArtifactCache.hasVisibleParquet(root)) {
      import spark.implicits._
      Seq.empty[(String, Seq[Int], String)].toDF("word", "file_ids", "letter")
    } else Tables.parquet(spark, path)
  }

  /** Point lookup: the letter predicate is derivable from the word but
    * Catalyst can't know that — supply it explicitly so partition
    * pruning kicks in (reads 1 of 26 directories).
    */
  def lookup(spark: SparkSession, path: String, word: String): DataFrame =
    load(spark, path)
      .filter(col("letter") === word.substring(0, 1) && col("word") === word)
      .select(col("word"), col("file_ids"))

  /** Compressed materialization: postings stored as delta+varint
    * binary ([[graft.functions.PostingCodec]]) instead of
    * `array<int>`. Same partitioning and pruning behavior; the
    * posting column is ~4-8× smaller in-row, which is what serving
    * caches and shuffle spills see (parquet's own encodings already
    * compress sorted int arrays on DISK — the codec's win is the
    * in-memory/in-flight representation and portability to any
    * byte-addressed store). `n_files` rides alongside so document-
    * frequency queries never decode.
    */
  def materializeCompressed(docs: DataFrame, path: String): Unit = {
    InvertedIndex.build(docs)
      .withColumn("letter", substring(col("word"), 1, 1))
      .select(col("word"),
        graft.functions.PostingCodec.postingEncode(
          transform(col("file_ids"), _.cast("long"))).as("postings"),
        size(col("file_ids")).cast("long").as("n_files"),
        col("letter"))
      .write.mode("overwrite")
      .partitionBy("letter")
      .parquet(path)
  }

  /** Point lookup against the compressed index: prune to the letter
    * partition, decode ONLY the matching row's postings.
    */
  def lookupCompressed(spark: SparkSession, path: String, word: String): DataFrame = {
    Tables.parquet(spark, path)
      .filter(col("letter") === word.substring(0, 1) && col("word") === word)
      .select(col("word"),
        transform(graft.functions.PostingCodec.postingDecode(col("postings")),
          _.cast("int")).as("file_ids"))
  }

  /** Incremental maintenance: fold a DELTA corpus into the persisted
    * index without rebuilding it. At 100 TB the full rebuild is the
    * thing you can never afford — the daily ingest touches a sliver of
    * the key space, so the merge must read and rewrite ONLY the letter
    * partitions the delta mentions:
    *
    *  1. index the delta alone (same build pipeline, delta-sized);
    *  2. its touched letters are a bounded driver-side set (≤26 —
    *     model-state scale, like the IVF centroids);
    *  3. read the base index pruned to those letters (PartitionFilters,
    *     asserted in IndexStoreSpec) and full-outer-join on word —
    *     posting lists union via `array_union` (idempotent: re-merging
    *     the same delta is a no-op), re-sorted to keep the on-disk
    *     contract (ascending file_ids);
    *  4. write back in dynamic partition-overwrite mode, which
    *     replaces exactly the touched letter directories and leaves
    *     every other partition's files untouched on disk.
    *
    * Merge cost is O(delta + base-rows-under-touched-letters), not
    * O(base) — the spec pins both the equivalence to a from-scratch
    * rebuild and the untouched-partition bytes being left alone.
    */
  def merge(spark: SparkSession, path: String, deltaDocs: DataFrame): Unit = {
    resumePending(spark, path)
    if (mergePhaseA(spark, path, deltaDocs)) phaseB(spark, path, "merge")
  }

  /** Phase A of [[merge]] — pure staging + marker commit, split out so
    * the crash-resume spec can stop exactly between the phases.
    * Returns false when the delta touches nothing. */
  private[graft] def mergePhaseA(spark: SparkSession, path: String,
      deltaDocs: DataFrame): Boolean = {
    val delta = InvertedIndex.build(deltaDocs)
      .withColumn("letter", substring(col("word"), 1, 1))
    val touched = delta.select(col("letter")).distinct()
      .collect().map(_.getString(0)).sorted
    if (touched.isEmpty) return false
    val base = load(spark, path)
      .filter(col("letter").isin(touched.toIndexedSeq: _*))
    val merged = base.as("b")
      .join(delta.as("d"), Seq("word"), "full_outer")
      .select(
        col("word"),
        array_sort(array_union(
          coalesce(col("b.file_ids"), typedlit(Array.empty[Int])),
          coalesce(col("d.file_ids"), typedlit(Array.empty[Int])))).as("file_ids"),
        coalesce(col("b.letter"), col("d.letter")).as("letter"))
    phaseA(spark, path, merged, "merge", touched)
  }

  /** Remove documents from the persisted index — the GDPR-erasure twin
    * of [[merge]], same touched-letter discipline in reverse:
    *
    *  1. index the VICTIM docs alone (delta-sized) — for each word the
    *     victim index holds exactly the victim file ids that a rebuild
    *     over the remaining corpus would drop;
    *  2. the victims' touched letters are a bounded driver-side set
    *     (≤ 26);
    *  3. read the base pruned to those letters, left-join on word, and
    *     `array_except` the victim ids out; a word whose whole posting
    *     list was victims disappears (as in a rebuild);
    *  4. dynamic-overwrite exactly the touched letter directories —
    *     untouched letters' bytes are never rewritten (mtime-pinned in
    *     the spec); a letter directory emptied entirely is removed
    *     explicitly (dynamic overwrite only replaces partitions
    *     PRESENT in the frame).
    *
    * Cost is O(victims + base-rows-under-touched-letters), never
    * O(base). Delete ∘ merge ≡ rebuild over the remaining corpus
    * (spec-pinned); an empty victim set is a byte-level no-op. Crash
    * safety is the [[CommitMarker]] protocol (shared with
    * [[merge]] via [[phaseA]]/[[phaseB]]): reads refuse while a marker
    * is pending ([[pendingMaintenance]]), and re-running the entry
    * point resumes the crashed op before applying the new one.
    * Single-writer contract like the rest of the lifecycle family. */
  def delete(spark: SparkSession, path: String, victimDocs: DataFrame): Unit = {
    resumePending(spark, path)
    if (deletePhaseA(spark, path, victimDocs)) phaseB(spark, path, "delete")
  }

  /** Phase A of [[delete]] — pure staging + marker commit, split out
    * so the crash-resume spec can stop exactly between the phases.
    * Returns false when the victim set touches nothing. */
  private[graft] def deletePhaseA(spark: SparkSession, path: String,
      victimDocs: DataFrame): Boolean = {
    val vic = InvertedIndex.build(victimDocs)
      .withColumn("letter", substring(col("word"), 1, 1))
    val touched = vic.select(col("letter")).distinct()
      .collect().map(_.getString(0)).sorted
    if (touched.isEmpty) return false
    val base = load(spark, path)
      .filter(col("letter").isin(touched.toIndexedSeq: _*))
    val remaining = base.as("b")
      .join(vic.as("d"), Seq("word"), "left")
      .select(
        col("word"),
        array_except(col("b.file_ids"),
          coalesce(col("d.file_ids"), typedlit(Array.empty[Int]))).as("file_ids"),
        col("b.letter").as("letter"))
      .filter(size(col("file_ids")) > 0)
    phaseA(spark, path, remaining, "delete", touched)
  }

  /** Finish a maintenance op a crash left mid-protocol — phase B is
    * re-runnable from its marker + staged rewrite alone. A NEW op must
    * complete the old one first (the inherited marker describes THAT
    * op's rewrite; silently replacing it would drop the crashed
    * op's un-applied letters on the floor). */
  private[graft] def resumePending(spark: SparkSession, path: String): Unit =
    Seq("merge", "delete").foreach { kind =>
      if (CommitMarker(path, kind).pending) phaseB(spark, path, kind)
    }

  /** Phase A of both maintenance ops: stage the touched letters'
    * rewrite to a hidden DISK dir under the index root (invisible to
    * Spark's file listing), then commit intent via an atomic marker
    * naming the touched letters. Disk, never a `localCheckpoint(true)`
    * pin: the ops read the very letter partitions their dynamic
    * overwrite replaces, and a rewrite touching most letters (a victim
    * set with a broad vocabulary touches all 26) makes a pinned slice
    * index-sized — the OOM class every lifecycle in this repo stages
    * around. Returns true when a marker is pending (always, here —
    * pre-existing markers were resumed by the entry point). */
  private[graft] def phaseA(spark: SparkSession, path: String, rewrite: DataFrame,
      kind: String, touched: Seq[String]): Boolean = {
    val stage = new java.io.File(path, s".$kind-tmp")
    ArtifactCache.deleteRecursively(stage)
    rewrite.write.mode("overwrite").parquet(stage.getPath)
    CommitMarker(path, kind).commit(Seq(s"touched:${touched.mkString(",")}"))
    true
  }

  /** Phase B — re-runnable from the marker alone: dynamic-overwrite
    * the touched letters from the staged rewrite (disk-to-disk), drop
    * letter dirs the rewrite emptied entirely (a merge never empties
    * one, a delete can), then clear the stage (atomically retired —
    * see [[MediaIndexOps.applyStagedRewrite]]) and the marker LAST. A
    * crash at any point re-runs to the identical end state. */
  private[graft] def phaseB(spark: SparkSession, path: String, kind: String): Unit = {
    // a corrupted or foreign marker must fail loudly, never misparse
    // as garbage touched letters that skip the emptied-letter drop and
    // leave deleted postings being served
    val marker = CommitMarker(path, kind)
    val touched = marker.read("touched").list("touched")
    MediaIndexOps.applyStagedRewrite(spark,
      new java.io.File(path, s".$kind-tmp"), path, Seq("letter"), touched)
    marker.clear()
  }
}
