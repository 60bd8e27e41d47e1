package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Tombstone delete + compaction for the bucket-partitioned media
  * posting indexes (the video frame index and the image chunk index —
  * `PerceptualHash.scala`): the takedown operation a media catalog
  * runs weekly (DMCA / GDPR / opt-out), previously only available to
  * the IVF vector index. The [[IvfIndex.delete]]/[[IvfIndex.compact]]
  * design, adapted to the shared layout both indexes use:
  *
  *   `$path/<sub>/kb=<bucket>/…`  — uncapped postings, one row per
  *                                  (media, key), partitioned by the
  *                                  bounded bucket column `kb`;
  *   `$path/keydf/` part files    — append-only (key, cnt) df partials
  *                                  (summed at probe time; compacted by
  *                                  [[AudioMatch.compactKeyDf]]).
  *
  * Phases:
  *  - [[delete]] is an O(ids) append to `$path/deleted/` — no data
  *    file touched, immediately visible: queries anti-join the
  *    tombstone set (bounded by the delete rate between compactions,
  *    so it broadcasts).
  *  - [[compact]] physically removes tombstoned postings, rewriting
  *    ONLY the kb buckets that contain one (dynamic partition
  *    overwrite — untouched buckets' bytes are never rewritten;
  *    spec-pinned by mtime), and reconciles the df statistic by
  *    appending NEGATIVE (key, −cnt) partials for exactly the removed
  *    postings, so summed live df equals a from-scratch rebuild's df
  *    (delete + compact ≡ rebuild, spec-pinned).
  *
  * df staleness window, documented honestly: BETWEEN delete and
  * compact the tombstoned rows still count toward the df cap — a key
  * whose live df would re-enter the cap after the removal stays
  * dropped until compaction. Staleness is strictly conservative (df
  * only over-counts, so no over-cap key can wrongly match), and the
  * deleted media themselves stop matching immediately via the
  * anti-join.
  *
  * Crash safety is the [[CommitMarker]] protocol, as in
  * [[AudioMatch.compactKeyDf]], extended to cover the postings
  * rewrite: phase A stages the negative partials AND the touched
  * buckets' survivor slice in hidden dirs
  * (both to DISK — a takedown flood touches most buckets, and pinning
  * an index-sized slice in memory is the OOM class the
  * [[MediaGroupsInc]] delete already stages around), then commits a
  * marker naming exactly the tombstone files being applied plus the
  * touched partition list (atomic rename); phase B — resumable from
  * the marker alone — replays the staged rewrite disk-to-disk, adopts
  * the staged partials, clears exactly the marker's tombstone files,
  * and drops the marker last. The negative partials are computed
  * BEFORE any posting is rewritten (a resume after a partial rewrite
  * could not reconstruct them), and a delete() racing the compaction
  * appends a tombstone file that is absent from the marker and
  * survives for the next compaction. While the marker exists the index is mid-swap
  * and probes refuse ([[pendingApply]]), the keydf mid-compaction
  * discipline. Single-writer contract for mutations, local-FS
  * contract for the guards — both as the rest of the incremental
  * lifecycle family.
  */
object MediaIndexOps {

  private def tombstoneFiles(path: String): Seq[java.io.File] =
    Option(new java.io.File(s"$path/deleted").listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Tombstone the given media ids (any single-column frame). O(ids). */
  def delete(s: SparkSession, path: String, ids: DataFrame, idCol: String): Unit =
    ids.select(col(ids.columns.head).cast("long").as(idCol))
      .write.mode("append").parquet(s"$path/deleted")

  /** The live tombstone id set, or None when nothing is deleted. */
  private[graft] def tombstones(s: SparkSession, path: String,
      idCol: String): Option[DataFrame] =
    if (tombstoneFiles(path).nonEmpty)
      Some(Tables.parquet(s, s"$path/deleted").select(col(idCol)).distinct())
    else None

  /** True while a [[compact]] is mid-swap — probes must refuse and the
    * caller must re-run compact to completion first. */
  private[graft] def pendingApply(path: String): Boolean =
    CommitMarker(s"$path/deleted", "apply").pending

  /** True while a [[consolidateBatches]] is mid-swap — same refusal
    * contract as [[pendingApply]]. */
  private[graft] def pendingConsolidate(path: String, sub: String): Boolean =
    CommitMarker(s"$path/$sub", "consol").pending

  /** `batch=` dirs under `root` that still hold parquet data (a
    * marker-only dir — `_SUCCESS` left for streaming replay guards —
    * has nothing to merge). */
  private def dataBatchIds(root: String): Seq[Int] =
    ArtifactCache.dataBatchIds(root)

  /** THE one staged-rewrite applier for the takedown family
    * (this compaction, [[IndexStore]]'s letter maintenance,
    * [[IvfIndex.compact]]'s cell rewrite — three near-identical copies
    * of a crash-critical protocol once lived side by side, two with
    * the same resume bug): dynamic-overwrite the `touched` partitions
    * of `target` from the hidden `stage` dir, drop partitions the
    * rewrite emptied entirely (dynamic overwrite only replaces
    * partitions PRESENT in the frame), then retire the stage
    * ATOMICALLY — rename it away first, delete the renamed dir after —
    * so a crash mid-cleanup can never leave a PARTIAL stage that a
    * marker-driven resume would misread as "every touched row was a
    * victim" (dropping live partitions) or re-apply as a truncated
    * slice. A missing stage means a prior resume already applied the
    * rewrite: no-op. `touched` entries are '/'-joined partition VALUES
    * aligned with `parts`. */
  private[graft] def applyStagedRewrite(s: SparkSession,
      stage: java.io.File, target: String, parts: Seq[String],
      touched: Seq[String]): Unit = {
    val retired = new java.io.File(stage.getParentFile,
      stage.getName + ".done")
    if (touched.isEmpty || !stage.exists()) {
      // a crash between the atomic retirement and the final delete
      // leaves the renamed dir behind — reclaim it on any later pass
      ArtifactCache.deleteRecursively(retired)
      return
    }
    def dropLeaf(pk: String): Unit = {
      val leaf = parts.zip(pk.split("/", -1)).map { case (c, v) => s"$c=$v" }
        .mkString("/")
      ArtifactCache.deleteRecursively(new java.io.File(s"$target/$leaf"))
    }
    if (ArtifactCache.hasVisibleParquet(stage)) {
      val remaining = Tables.parquet(s, stage.getPath)
      remaining.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(parts: _*).parquet(target)
      def partKey = concat_ws("/", parts.map(c => col(c).cast("string")): _*)
      val survivors = remaining.select(partKey.as("pk")).distinct()
        .collect().map(_.getString(0)).toSet
      touched.filterNot(survivors).foreach(dropLeaf)
    } else
      // the stage was written EMPTY (every row in the touched slice
      // was a victim's) — all touched leaves empty out. The atomic
      // retirement below is what makes this inference safe: a
      // half-deleted stage can never exist, so "no visible parquet"
      // always means "staged empty", never "cleanup crashed mid-way"
      touched.foreach(dropLeaf)
    CommitMarker.swapIn(stage, retired)
    ArtifactCache.deleteRecursively(retired)
  }

  /** Consolidate a STREAMED index's per-micro-batch dirs — the
    * small-file debt every `foreachBatch` ingest accrues (one
    * `batch=N` dir per trigger under the postings subdir AND `keydf`)
    * — into the single newest batch dir, without changing any query
    * answer: postings are unioned verbatim, df partials are summed
    * per key (summed-partials semantics make the merge exact by
    * construction — including any negative takedown partials, which
    * fold in). Consumed older dirs are left MARKER-ONLY (`_SUCCESS`
    * kept, data removed) so a Structured Streaming replay of an
    * already-staged batch still finds its guard and skips the
    * re-stage; the layout stays uniformly batch-partitioned, so probes,
    * [[delete]]/[[compact]] and later stages read on unchanged.
    *
    * Crash safety is the [[CommitMarker]] protocol: phase A builds
    * both consolidated dirs under hidden `.consol-tmp` siblings and
    * commits the consumed id lists via atomic marker rename; phase B —
    * re-runnable from the marker alone — swaps the newest batch dir
    * for the consolidated build, empties the older dirs down to their
    * markers, and drops the marker last. While the marker exists
    * probes refuse ([[pendingConsolidate]]). Run from the single
    * writer between triggers (or on the paused stream) — the same
    * single-writer contract as every compaction in this family.
    */
  def consolidateBatches(s: SparkSession, path: String, sub: String): Unit =
    if (consolidatePhaseA(s, path, sub)) consolidatePhaseB(s, path, sub)

  private[graft] def consolidatePhaseA(s: SparkSession, path: String,
      sub: String): Boolean = {
    require(!pendingApply(path),
      s"pending tombstone compaction at $path: run compact to completion " +
        "before consolidating")
    if (pendingConsolidate(path, sub)) return true
    val subIds = dataBatchIds(s"$path/$sub")
    val dfIds = dataBatchIds(s"$path/keydf")
    if (subIds.size <= 1 && dfIds.size <= 1) return false
    if (subIds.size > 1) {
      val tmp = s"$path/$sub/.consol-tmp"
      ArtifactCache.deleteRecursively(new java.io.File(tmp))
      Tables.parquet(s, s"$path/$sub")
        .filter(col("batch").isin(subIds: _*)).drop("batch")
        .write.mode("overwrite").partitionBy("kb").parquet(tmp)
    }
    if (dfIds.size > 1) {
      val tmp = s"$path/keydf/.consol-tmp"
      ArtifactCache.deleteRecursively(new java.io.File(tmp))
      Tables.parquet(s, s"$path/keydf")
        .filter(col("batch").isin(dfIds: _*))
        .groupBy(col("key")).agg(sum(col("cnt")).as("cnt"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    CommitMarker(s"$path/$sub", "consol").commit(
      Seq(s"sub:${subIds.mkString(",")}", s"keydf:${dfIds.mkString(",")}"))
    true
  }

  private[graft] def consolidatePhaseB(s: SparkSession, path: String,
      sub: String): Unit = {
    val marker = CommitMarker(s"$path/$sub", "consol")
    val lines = marker.read()
    CommitMarker.swapNewest(s"$path/$sub", "batch=", lines.ids("sub"), ".consol-tmp")
    CommitMarker.swapNewest(s"$path/keydf", "batch=", lines.ids("keydf"), ".consol-tmp")
    marker.clear()
  }

  /** Apply pending tombstones physically. `sub` is the postings subdir
    * ("frames" for video, "chunks" for image); `idCol` the media id
    * column in the postings rows. Cost ∝ touched buckets + one
    * postings scan to locate them — never a full-index rewrite. */
  def compact(s: SparkSession, path: String, sub: String, idCol: String): Unit =
    if (compactPhaseA(s, path, sub, idCol))
      compactPhaseB(s, path, sub, idCol)

  /** Phase A: stage the df reconciliation AND the survivor slice of
    * every tombstone-touched posting partition — both to hidden disk
    * dirs, never an in-memory pin — then commit intent via the marker
    * (atomic rename). A takedown flood (delete 30% of a catalog →
    * most buckets touched) makes the survivor slice index-sized, and
    * pinning index-sized media relations in the 8g JVM is the OOM
    * class [[MediaGroupsInc.deletePhaseA]] already stages to disk for;
    * this is the same idiom. Returns false when there is nothing to
    * apply; true when a marker is pending — either freshly committed
    * or inherited from a crashed previous run (resume that one; the
    * staged dirs and marker fully describe it). Split out so the
    * crash-resume spec can stop exactly between the phases.
    *
    * An index with no `keydf` store (the text shingle store — its df
    * cap is recomputed from live postings at probe time, so there is
    * no persisted statistic to reconcile) skips the negative-partials
    * staging; everything else is layout-shared. */
  private[graft] def compactPhaseA(s: SparkSession, path: String, sub: String,
      idCol: String): Boolean = {
    require(!pendingConsolidate(path, sub),
      s"pending batch consolidation at $path/$sub: run consolidateBatches " +
        "to completion before compacting")
    val dfStage = new java.io.File(s"$path/keydf/.delete-tmp")
    val subStage = new java.io.File(s"$path/$sub/.del-tmp")
    if (pendingApply(path)) return true
    val snapshot = tombstoneFiles(path)
    if (snapshot.isEmpty) return false
    val deleted = Tables.parquet(s, snapshot.map(_.getPath): _*)
      .select(col(idCol)).distinct()
    if (new java.io.File(s"$path/keydf").exists()) {
      ArtifactCache.deleteRecursively(dfStage)
      // the removed postings' per-key counts, negated — computed from
      // the UNTOUCHED postings (before any rewrite), the only point
      // where they are still reconstructible
      Tables.parquet(s, s"$path/$sub")
        .join(broadcast(deleted), Seq(idCol), "left_semi")
        .groupBy(col("key")).agg((-count(lit(1))).as("cnt"))
        .coalesce(1).write.mode("overwrite").parquet(dfStage.getPath)
    }
    val postings = Tables.parquet(s, s"$path/$sub")
    // a STREAMED index carries the per-micro-batch `batch` partition
    // column above `kb` — the rewrite must address (batch, kb)
    // partitions or the dynamic overwrite would write a second, flat
    // copy of every surviving row next to the batch dirs
    val parts = if (postings.columns.contains("batch"))
      Seq("batch", "kb") else Seq("kb")
    def partKey = concat_ws("/", parts.map(c => col(c).cast("string")): _*)
    // kb is bounded and batch dirs are bounded by the consolidation
    // cadence, so this collect stays small (partition KEYS, not rows)
    val touched = postings.join(broadcast(deleted), Seq(idCol), "left_semi")
      .select(partKey.as("pk")).distinct()
      .collect().map(_.getString(0)).sorted
    ArtifactCache.deleteRecursively(subStage)
    if (touched.nonEmpty)
      postings.filter(partKey.isin(touched.toIndexedSeq: _*))
        .join(broadcast(deleted), Seq(idCol), "left_anti")
        .write.mode("overwrite").parquet(subStage.getPath)
    CommitMarker(s"$path/deleted", "apply").commit(
      snapshot.map(f => s"tomb:${f.getName}") ++
        Seq(s"parts:${parts.mkString(",")}", s"touched:${touched.mkString(",")}"))
    true
  }

  /** Phase B: re-runnable from the marker alone — the posting rewrite
    * is a plain disk-to-disk scan of phase A's staged survivor slice
    * (dynamic overwrite), never an in-memory pin of the slice, and
    * never a read of the partitions being replaced. Resume = re-run:
    * the stage is deleted only after the overwrite and the explicit
    * empty-partition cleanup both land. */
  private[graft] def compactPhaseB(s: SparkSession, path: String, sub: String,
      idCol: String): Unit = {
    val marker = CommitMarker(s"$path/deleted", "apply")
    val dfStage = new java.io.File(s"$path/keydf/.delete-tmp")
    val subStage = new java.io.File(s"$path/$sub/.del-tmp")
    // the staged-rewrite lines are part of the marker contract: without
    // them the resume would skip the posting rewrite
    val lines = marker.read("touched", "parts")
    val listed = lines.every("tomb")
    val parts = lines.list("parts")
    val touched = lines.list("touched")
    val files = tombstoneFiles(path).filter(f => listed.contains(f.getName))
    // only leaf (kb=…) dirs are ever dropped — a batch dir keeps its
    // _SUCCESS marker for the streaming replay guard
    applyStagedRewrite(s, subStage, s"$path/$sub", parts, touched)
    // adopt the staged negative partials under the live keydf — from
    // here the summed df equals the rebuild df for every touched key.
    // A batch-layout keydf adopts them under the reserved `batch=-1`
    // dir (stream batch ids are non-negative, so it never collides,
    // and a later consolidation folds the negatives in like any other
    // partial). An index without a keydf store has no partials staged.
    if (dfStage.exists()) {
      val keydfBatched = Option(new java.io.File(s"$path/keydf").listFiles())
        .toSeq.flatten.exists(f => f.isDirectory && f.getName.startsWith("batch="))
      val adoptDir = if (keydfBatched) {
        val d = new java.io.File(s"$path/keydf/batch=-1")
        d.mkdirs(); d
      } else new java.io.File(s"$path/keydf")
      CommitMarker.adopt(dfStage, adoptDir, "deleted-")
    }
    // clear exactly the applied tombstone files (a racing delete()'s
    // new file survives for the next compaction), then the marker LAST
    files.foreach(_.delete())
    marker.clear()
    val delDir = new java.io.File(s"$path/deleted")
    if (tombstoneFiles(path).isEmpty &&
        Option(delDir.listFiles()).exists(_.forall(f => !f.getName.endsWith(".parquet"))))
      ArtifactCache.deleteRecursively(delDir)
  }
}
