package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Incremental media dup-group maintenance — the append-only
  * generation form of [[Multimodal.mediaDupGroups]]: a media delta
  * generates only DELTA-HEADED candidates (the `q_dedup_incremental`
  * shape), verified pairs append to a persisted pair store, and the
  * closure warm-starts from the previous generation's labels
  * ([[Dedup.connectedComponentsWarm]]) — so group maintenance is
  * delta-cost, not a from-scratch recompute per ingest.
  *
  * EXACTNESS, including the df-cap edge: the one-shot operator blocks
  * on windows whose FULL-CORPUS distinct-media df lies in [2, maxDf].
  * Append-only dfs only grow, which yields two delta-time facts:
  *  - a pair's LATER member arrives at some generation k; every shared
  *    window's df at k is ≤ its final df, so a window eligible at
  *    final state was eligible at k and the pair IS emitted
  *    delta-headed (no misses);
  *  - a window that CROSSES maxDf at generation k (eligible before,
  *    over-cap now) retroactively invalidates the pairs it blocked —
  *    the one case where append-only over-emits. [[ingest]] repairs it
  *    exactly: the crossed window's OLD member pairs (≤ maxDf members
  *    each, bounded) are re-checked for support by any OTHER
  *    still-eligible shared window, and unsupported pairs land in a
  *    REMOVED store; live pairs = appended ∖ removed. Removals break
  *    the warm-seed superset contract, so that generation's closure
  *    cold-starts (the [[Dedup.connectedComponentsWarm]] doc's rule);
  *    crossing-free generations — the common case — stay warm.
  * By induction over generations the live pair relation equals the
  * one-shot relation over the accumulated corpus at every boundary
  * (spec-pinned, including a constructed crossing), so
  * `q_media_dup_groups_incremental` shares the one-shot recursive-CTE
  * reachability oracle.
  *
  * State under `path` (all append-only; the arrival-order contract of
  * [[Dedup.batchDedupDecisions]] — every batch id exceeds every prior
  * id — is asserted per ingest from a one-line meta file):
  *   `wins/batch=N`    — (media_id, win) distinct window postings;
  *   `windf/batch=N`   — (win, cnt) df partials (summed = live df);
  *   `hv/batch=N`      — (media_id, hvec, n2) verification vectors;
  *   `pairs/batch=N`   — verified (doc_a, doc_b) appends;
  *   `removed/batch=N` — cap-crossing repairs;
  *   `labels/gen=N`    — the generation's closure (latest wins);
  *   `meta/batch-N`    — "minId,maxId" of the batch.
  * Single-writer contract for ingest, local-FS guards — the
  * incremental-index family conventions. [[compactState]] folds the
  * accrued per-generation debt back to a single generation between
  * ingests (crash-safe, answer-identical).
  *
  * Scale shape: per-generation cost ∝ delta windows + touched-window
  * member sets (df-capped) + crossed-window repairs (≤ maxDf² per
  * crossed window); the closure input is the live pair store contracted
  * through [[Dedup.contractedForest]], and the only full-state reads
  * are column-pruned posting scans semi-joined to delta keys.
  */
object MediaGroupsInc {

  /** Which closure path the last [[delete]] took — "scoped" (victim-
    * scoped re-closure; unaffected components kept verbatim) or "cold"
    * (full-relation fallback). Observable so the scale property —
    * closure cost ∝ victim components, not pair store — is
    * spec-assertable, the [[Dedup.CcRoundsProperty]] pattern. */
  val DelClosureProperty = "graft.mediagroups.del_closure"

  /** Distinct (media_id, win) postings of a (media_id, content) batch —
    * the one-shot window relation restricted to the batch. */
  private def mediaWindows(media: DataFrame): DataFrame = {
    val positions = sequence(lit(1), greatest(length(col("content")) - 15, lit(1)), lit(4))
    media.select(col("media_id"),
        explode(transform(positions, p => col("content").substr(p, lit(16)))).as("win"))
      .distinct()
  }

  private def batchDirs(path: String, sub: String): Seq[Int] =
    Option(new java.io.File(s"$path/$sub").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName.stripPrefix("batch=").toInt).sorted

  private def latestGen(path: String): Option[Int] =
    Option(new java.io.File(s"$path/labels").listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("gen="))
      .map(_.getName.stripPrefix("gen=").toInt).sorted.lastOption

  /** The replay-safety invariant shared by [[compactState]] and
    * [[delete]] on a STREAMED state: an in-flight (crashed,
    * replay-pending) generation must re-run before any state-mutating
    * maintenance — its replay would overwrite gen-scoped dirs the
    * maintenance just consumed. Non-streamed states have no `ingested`
    * dir and rely on the quiescent single-writer contract. */
  private def requireNoInflightGens(path: String, action: String): Unit = {
    val ingDir = new java.io.File(s"$path/ingested")
    if (ingDir.exists()) {
      val marked = Option(ingDir.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("batch-"))
        .map(_.getName.stripPrefix("batch-").toInt).toSet
      val inflight = batchDirs(path, "wins").filterNot(marked)
      require(inflight.isEmpty,
        s"generation(s) ${inflight.mkString(",")} at $path lack ingest " +
          "markers (crashed batch pending replay): re-run the stream to " +
          s"completion before $action")
    }
  }

  /** True while a [[compactState]] is mid-swap — [[ingest]] refuses
    * until the compaction is re-run to completion. [[currentLabels]]
    * stays safe throughout: the latest label generation is never
    * touched by the swap. */
  private[graft] def pendingCompact(path: String): Boolean =
    CommitMarker(path, "compact").pending

  /** True while a [[delete]] is mid-apply — [[ingest]] AND
    * [[currentLabels]] refuse (the delete rewrites the latest label
    * generation in place) until the delete is re-run to completion. */
  private[graft] def pendingDelete(path: String): Boolean =
    CommitMarker(path, "delete").pending

  /** Compact the accrued generation debt — one `batch=N` dir per
    * ingest under `wins`/`windf`/`hv`/`pairs`, a `removed` store, a
    * `labels/gen=N` per generation, one `meta/batch-N` file each —
    * into the single newest generation, with zero answer change:
    * postings and vectors are unioned verbatim, df partials are summed
    * per window (summed-partials semantics make the merge exact by
    * construction), the pair store is rewritten LIVE (the `removed`
    * anti-join folds in, after which the removed store is dropped),
    * meta files merge to one global `min,max` line (the arrival-order
    * check only reads the max), and label generations below the latest
    * are pruned. Generation numbering is preserved (the merged dirs
    * keep `batch=<newest>`), so the next ingest's derived gen and the
    * streaming wrapper's pinned gens are unaffected; the wrapper's
    * `ingested/batch-N` replay markers are never touched, so a clean
    * replay of a consumed generation still skips its re-ingest.
    *
    * Crash safety is the [[CommitMarker]] protocol: phase A builds
    * every merged store under hidden `.compact-tmp` siblings, then
    * commits the consumed ids per store; phase B — re-runnable from
    * the marker alone — swaps each tmp into `batch=<newest>`, deletes the
    * consumed dirs, folds meta, prunes labels, and drops the marker
    * last. While the marker exists [[ingest]] refuses. Run from the
    * single writer between ingests (on a streamed state: between
    * triggers, with every staged generation's ingest marker present —
    * a crashed batch pending replay must re-run first, enforced). */
  def compactState(s: SparkSession, path: String): Unit =
    if (compactPhaseA(s, path)) compactPhaseB(s, path)

  /** Phase A: build the merged stores, then commit intent via the
    * marker. Returns false when there is nothing to compact; true when
    * a marker is pending — freshly committed or inherited from a
    * crashed run (resume it; the tmp dirs and marker fully describe
    * it). Split out so the crash-resume spec can stop between the
    * phases. */
  private[graft] def compactPhaseA(s: SparkSession, path: String): Boolean = {
    if (pendingCompact(path)) return true
    require(!pendingDelete(path),
      s"pending delete at $path: run delete to completion before compacting")
    val gens = batchDirs(path, "wins")
    if (gens.isEmpty) return false
    requireNoInflightGens(path, "compacting")
    // each store is gated on its OWN data-dir count: a delete leaves
    // windf/pairs with a reserved batch=-1 next to a single wins
    // generation, and those negatives/appends must fold (or be left
    // alone) independently of the wins count — a wins-only gate would
    // let phase B's consumed-dir sweep destroy unmerged batch=-1 data
    val windfIds = ArtifactCache.dataBatchIds(s"$path/windf")
    val hvIds = ArtifactCache.dataBatchIds(s"$path/hv")
    val pairIds = ArtifactCache.dataBatchIds(s"$path/pairs")
    val removedData =
      ArtifactCache.hasVisibleParquet(new java.io.File(s"$path/removed"))
    val staleLabels = Option(new java.io.File(s"$path/labels").listFiles())
      .toSeq.flatten.count(f => f.isDirectory && f.getName.startsWith("gen=")) > 1
    val mergeWins = gens.size > 1
    val mergeWindf = windfIds.size > 1
    // a delete leaves its victims' content-derived vectors in hv
    // (inert for answers — candidates and fresh-verify only reach hv
    // via live postings/pairs — but DERIVED DATA of removed media must
    // not persist indefinitely, and hv would otherwise grow without
    // bound across takedowns). The delete drops a hint file; the next
    // compaction folds hv even single-generation and prunes every row
    // with no surviving wins posting.
    val hvPruneDue = new java.io.File(s"$path/.hv-prune-due").exists()
    val mergeHv = hvIds.size > 1 || (hvPruneDue && hvIds.nonEmpty)
    val mergePairs = pairIds.size > 1 || removedData
    if (!mergeWins && !mergeWindf && !mergeHv && !mergePairs && !staleLabels)
      return false
    def tmpOf(sub: String): String = {
      ArtifactCache.deleteRecursively(new java.io.File(s"$path/$sub/.compact-tmp"))
      s"$path/$sub/.compact-tmp"
    }
    // an all-victim takedown leaves the wins tree footerless (the
    // delete drops every wb leaf; batch dirs keep only _SUCCESS) — a
    // raw read would fail schema inference, so both wins consumers
    // below go through the visible-parquet guard; the empty-store
    // answer is "no live postings" (skip the wins fold, prune all hv)
    val winsVisible =
      ArtifactCache.hasVisibleParquet(new java.io.File(s"$path/wins"))
    if (mergeWins && winsVisible)
      Tables.parquet(s, s"$path/wins").drop("batch")
        .write.mode("overwrite").partitionBy("wb").parquet(tmpOf("wins"))
    if (mergeWindf)
      // a delete's negative partials (batch=-1) fold in; windows whose
      // live df hits zero carry no information and drop
      Tables.parquet(s, s"$path/windf")
        .groupBy(col("win")).agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") > 0)
        .write.mode("overwrite").parquet(tmpOf("windf"))
    if (mergeHv) {
      // takedown-victim vectors are pruned here: keep only media with
      // a surviving wins posting (the only paths into hv — candidate
      // generation and fresh-verify — both go via live postings/pairs,
      // so a row without postings is unreachable and pure debt)
      import s.implicits._
      val liveIds =
        if (winsVisible) Tables.parquet(s, s"$path/wins").select(col("media_id"))
        else Seq.empty[Long].toDF("media_id")
      Tables.parquet(s, s"$path/hv").drop("batch")
        .join(liveIds, Seq("media_id"), "left_semi")
        .write.mode("overwrite").parquet(tmpOf("hv"))
    }
    if (mergePairs) {
      val all = Tables.parquet(s, s"$path/pairs").select(col("doc_a"), col("doc_b"))
      val live = if (removedData)
        all.join(Tables.parquet(s, s"$path/removed")
          .select(col("doc_a"), col("doc_b")), Seq("doc_a", "doc_b"), "left_anti")
      else all
      live.write.mode("overwrite").parquet(tmpOf("pairs"))
    }
    // the marker records the consumed ids PER STORE — phase B sweeps
    // exactly these, so a store that was not merged keeps its dirs
    def consumed(tag: String, merged: Boolean, ids: Seq[Int]) =
      s"$tag:${(if (merged) ids else Seq.empty).mkString(",")}"
    CommitMarker(path, "compact").commit(Seq(s"gen:${gens.max}",
      consumed("wins", mergeWins, gens), consumed("windf", mergeWindf, windfIds),
      consumed("hv", mergeHv, hvIds), consumed("pairs", mergePairs, pairIds)))
    true
  }

  /** Phase B: re-runnable from the marker alone — every step is
    * idempotent (swap-if-tmp-present, delete-consumed, recompute the
    * meta fold over whatever files remain, prune below the latest). */
  private[graft] def compactPhaseB(s: SparkSession, path: String): Unit = {
    val marker = CommitMarker(path, "compact")
    val lines = marker.read("gen")
    val maxGen = lines.field("gen").get.toInt
    def swap(sub: String): Unit = {
      val ids = lines.ids(sub)
      if (ids.isEmpty) return // store was not merged — leave it alone
      val root = s"$path/$sub"
      CommitMarker.swapIn(new java.io.File(s"$root/.compact-tmp"),
        new java.io.File(s"$root/batch=$maxGen"))
      // sweep exactly the consumed ids the marker recorded (the merged
      // store landed under batch=<maxGen>)
      ids.filter(_ != maxGen).foreach(i =>
        ArtifactCache.deleteRecursively(new java.io.File(s"$root/batch=$i")))
    }
    Seq("wins", "windf", "hv", "pairs").foreach(swap)
    // the hv fold this marker records satisfied any pending prune hint
    if (lines.ids("hv").nonEmpty)
      new java.io.File(s"$path/.hv-prune-due").delete()
    // removals are folded into the live pair rewrite — only when that
    // rewrite actually ran (the pairs line is recorded exactly then)
    if (lines.ids("pairs").nonEmpty)
      ArtifactCache.deleteRecursively(new java.io.File(s"$path/removed"))
    // meta folds to one "globalMin,globalMax" — write-merged-first so a
    // crash mid-delete still reconstructs the same fold from survivors
    val metaDir = new java.io.File(s"$path/meta")
    val metas = Option(metaDir.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("batch-"))
    if (metas.nonEmpty) {
      val vals = metas.map(f => new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.split(","))
      val tmpF = new java.io.File(metaDir, s".batch-$maxGen.tmp")
      java.nio.file.Files.write(tmpF.toPath,
        s"${vals.map(_(0).toLong).min},${vals.map(_(1).toLong).max}"
          .getBytes("UTF-8"))
      java.nio.file.Files.move(tmpF.toPath,
        new java.io.File(metaDir, s"batch-$maxGen").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      metas.filter(_.getName != s"batch-$maxGen").foreach(_.delete())
    }
    latestGen(path).foreach { g =>
      Option(new java.io.File(s"$path/labels").listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("gen=") &&
          f.getName.stripPrefix("gen=").toInt < g)
        .foreach(ArtifactCache.deleteRecursively)
    }
    marker.clear()
  }

  /** Remove media from the group state — the takedown every media
    * catalog runs (DMCA / GDPR / opt-out), already closed for the
    * posting/vector indexes ([[MediaIndexOps.delete]]+compact,
    * [[IvfIndex.delete]]) but until now not for the GROUP state, where
    * a victim's memberships would persist until a full rebuild.
    * Returns the post-delete labels.
    *
    * EXACTNESS under the df cap — the mirror image of [[ingest]]'s
    * crossing repair: deletion only DECREASES window dfs, so the one
    * semantic shift is a window UN-crossing maxDf (over-cap before,
    * within [2, maxDf] after). The repair is bounded and exact: each
    * un-crossed window's surviving members (≤ maxDf, by landing under
    * the cap) form candidate pairs; those present in the `removed`
    * store RESURRECT (they were cosine-verified at emission — only
    * their support was lost), and those never emitted (suppressed the
    * whole time the window sat over cap) verify fresh against the
    * retained vectors and append. Eligible-before windows need no
    * repair: a surviving pair's shared window keeps df ≥ 2 and can
    * only move DOWN within the cap. Pairs touching a victim mask into
    * the rewritten `removed` store; the victim's postings rewrite
    * physically out of `wins` (cost ∝ the victim's touched (batch, wb)
    * partitions — candidate generation must never see them) while `hv`
    * keeps its rows (only reachable via pair-endpoint joins and a
    * conservative budget count, so stale vectors are inert); the df
    * statistic reconciles through NEGATIVE partials adopted under the
    * reserved `windf/batch=-1` (generations are ≥ 0; a later
    * [[compactState]] folds them in). Removals break the warm-seed
    * superset contract, but only inside components that CONTAIN a
    * victim or an added-pair endpoint — the closure re-runs cold on
    * exactly that subgraph (phase A stages the added endpoints as
    * seeds) while every other component keeps its labels verbatim,
    * so the delete's closure cost is victim-proportional, never
    * pair-store-proportional. Net: post-delete labels equal
    * the one-shot [[Multimodal.mediaDupGroups]] over the remaining
    * corpus (spec-pinned, including a constructed un-crossing that
    * both resurrects a removed pair and emits a never-emitted one),
    * and the invariant survives further ingests and compactions.
    *
    * Crash safety is the [[CommitMarker]] protocol: phase A stages
    * the negative partials, the rewritten removed store, and the
    * fresh verified pairs under hidden `.del-tmp` dirs, then commits
    * the victim list; phase B — re-runnable
    * from the marker alone — rewrites the touched wins partitions,
    * adopts the staged artifacts, recomputes the closure, and drops
    * the marker last. While the marker exists [[ingest]] and
    * [[currentLabels]] refuse. `victims` is a driver-side list by
    * contract (a takedown batch is bounded; it broadcasts as isin). */
  def delete(s: SparkSession, path: String, victims: Seq[Long],
      threshold: Double = 0.99, maxDf: Int = 64): DataFrame = {
    // a marker inherited from a CRASHED earlier delete carries THAT
    // call's victim list — finish it first, then apply this call's
    // victims fresh (silently resuming the old list in place of the
    // new one would drop a takedown on the floor)
    if (pendingDelete(path)) deletePhaseB(s, path)
    if (deletePhaseA(s, path, victims, threshold, maxDf))
      deletePhaseB(s, path)
    currentLabels(s, path)
  }

  /** Phase A: pure staging, no live-state mutation before the marker
    * commits. Returns false when the state is empty; true when a
    * marker is pending (fresh or inherited from a crashed run). */
  private[graft] def deletePhaseA(s: SparkSession, path: String,
      victims: Seq[Long], threshold: Double, maxDf: Int): Boolean = {
    if (pendingDelete(path)) return true
    require(!pendingCompact(path),
      s"pending state compaction at $path: run compactState to completion " +
        "before deleting")
    require(victims.nonEmpty, "empty takedown list")
    if (batchDirs(path, "wins").isEmpty) return false
    // a crashed generation's replay would re-stage the victim's
    // postings after the takedown
    requireNoInflightGens(path, "deleting")
    val vcol = col("media_id").isin(victims: _*)
    val allWins = Tables.parquet(s, s"$path/wins")
      .select(col("media_id"), col("win"))
    // victim postings WITH their partition coordinates: one full-store
    // scan serves the df partials, the window counts, AND the
    // touched-leaf list (previously a second full scan)
    val vwinsP = Tables.parquet(s, s"$path/wins")
      .select(col("media_id"), col("win"), col("batch"), col("wb"))
      .filter(vcol).persist()
    val vwins = vwinsP.select(col("media_id"), col("win"))
    val staged = try {
      // negative df partials for exactly the victim postings
      ArtifactCache.deleteRecursively(new java.io.File(s"$path/windf/.del-tmp"))
      vwins.groupBy(col("win")).agg((-count(lit(1))).as("cnt"))
        .write.mode("overwrite").parquet(s"$path/windf/.del-tmp")
      // un-crossed windows: over-cap before, within [2, maxDf] after —
      // dfs evaluated only for the victims' own windows (semi-joined
      // partials, never the full corpus statistic)
      val vcnt = vwins.groupBy(col("win")).agg(count(lit(1)).as("v_cnt"))
      val uncrossed = Tables.parquet(s, s"$path/windf")
        .join(vcnt.select(col("win")), Seq("win"), "left_semi")
        .groupBy(col("win")).agg(sum(col("cnt")).as("df_before"))
        .join(vcnt, Seq("win"))
        .filter(col("df_before") > maxDf &&
          (col("df_before") - col("v_cnt")).between(2, maxDf))
        .select(col("win"))
      // surviving member pairs of each un-crossed window (≤ maxDf each)
      // — reused three times below (resurrection, fresh candidates,
      // seed endpoints), so persisted: victim-proportional by the
      // un-crossed-window bound, never store-sized
      val sm = allWins.join(uncrossed, Seq("win"), "left_semi").filter(!vcol)
      val memberPairs = sm.as("a")
        .join(sm.as("b"),
          col("a.win") === col("b.win") && col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("doc_a"), col("b.media_id").as("doc_b"))
        .distinct()
        .persist()
      val pairsAll = Tables.parquet(s, s"$path/pairs")
        .select(col("doc_a"), col("doc_b"))
      val removedOld =
        if (ArtifactCache.hasVisibleParquet(new java.io.File(s"$path/removed")))
          Tables.parquet(s, s"$path/removed").select(col("doc_a"), col("doc_b"))
        else pairsAll.limit(0)
      val resurrect =
        removedOld.join(memberPairs, Seq("doc_a", "doc_b"), "left_semi")
          .persist()
      val victimPairs = pairsAll.filter(
        col("doc_a").isin(victims: _*) || col("doc_b").isin(victims: _*))
      val newRemoved = removedOld
        .join(resurrect, Seq("doc_a", "doc_b"), "left_anti")
        .union(victimPairs).distinct()
      // write the stage unconditionally and read keep/drop off the
      // produced files — computing emptiness first would execute the
      // full pair-store join DAG twice (the wins staging below and
      // phase B use the same files-probe pattern)
      ArtifactCache.deleteRecursively(new java.io.File(s"$path/removed/.del-tmp"))
      newRemoved.write.mode("overwrite").parquet(s"$path/removed/.del-tmp")
      val keepRemoved = ArtifactCache.hasVisibleParquet(
        new java.io.File(s"$path/removed/.del-tmp"))
      // fresh pairs: suppressed the whole time their window sat over
      // cap, never emitted — verify against the retained vectors now.
      // The pair store is first narrowed by a broadcast semi-join on
      // the member endpoints: a bare anti-join against the full store
      // shuffle-exchanges the store on (doc_a, doc_b) — O(pair store)
      // per delete, the measured 100× whale — while every row that can
      // match a member pair has doc_a among the (victim-proportional)
      // un-crossed windows' members
      val pairsNarrow = pairsAll.join(
        broadcast(memberPairs.select(col("doc_a")).distinct()),
        Seq("doc_a"), "left_semi")
      val freshCand =
        memberPairs.join(pairsNarrow, Seq("doc_a", "doc_b"), "left_anti")
      val hv = Tables.parquet(s, s"$path/hv")
        .select(col("media_id"), col("hvec"), col("n2"))
      val nMedia = hv.count()
      def side(df: DataFrame) =
        if (nMedia <= Multimodal.BroadcastMediaBudget) broadcast(df) else df
      val cosu = graft.functions.VectorFunctions.arrayDot(col("va"), col("vb")) /
        (sqrt(col("na2")) * sqrt(col("nb2")))
      val fresh = freshCand
        .join(side(hv.select(col("media_id").as("doc_a"), col("hvec").as("va"),
          col("n2").as("na2"))), Seq("doc_a"))
        .join(side(hv.select(col("media_id").as("doc_b"), col("hvec").as("vb"),
          col("n2").as("nb2"))), Seq("doc_b"))
        .filter(cosu >= threshold)
        .select(col("doc_a"), col("doc_b"))
      ArtifactCache.deleteRecursively(new java.io.File(s"$path/pairs/.del-tmp"))
      fresh.write.mode("overwrite").parquet(s"$path/pairs/.del-tmp")
      // seed endpoints for phase B's VICTIM-SCOPED re-closure: the
      // endpoints of every ADDED pair (resurrected or fresh). Added
      // pairs are the only way a component NOT containing a victim can
      // change, and both of their endpoints land here — so
      // (victims ∪ seeds) identifies every component the delete can
      // touch. Fresh pairs read back off the stage just written (the
      // emptiness-probe idiom above); resurrect re-derives from the
      // in-scope frames (bounded by the un-crossed windows' members).
      val freshStagedDir = new java.io.File(s"$path/pairs/.del-tmp")
      val freshBack =
        if (ArtifactCache.hasVisibleParquet(freshStagedDir))
          Tables.parquet(s, freshStagedDir.getPath)
            .select(col("doc_a"), col("doc_b"))
        else pairsAll.limit(0)
      val added = resurrect.select(col("doc_a"), col("doc_b")).union(freshBack)
      ArtifactCache.deleteRecursively(new java.io.File(s"$path/.del-seeds"))
      added.select(col("doc_a").as("doc_id"))
        .union(added.select(col("doc_b").as("doc_id")))
        .distinct()
        .write.mode("overwrite").parquet(s"$path/.del-seeds")
      memberPairs.unpersist()
      resurrect.unpersist()
      // stage the wins rewrite too: survivors of every victim-touched
      // (batch, wb) partition, written to DISK here so phase B never
      // pins the slice in memory — a takedown list spread uniformly
      // over the corpus touches every partition, so "touched" is not
      // small and an in-memory pin of the survivor slice is an OOM at
      // the 100× scale point (measured) — and never reads the
      // partitions it is about to overwrite. The stage is written
      // PARTITIONED in the live leaf layout so phase B adopts each
      // leaf by a file move instead of a second full read+rewrite of
      // the slice (which doubled the delete's I/O, measured at 100×);
      // the touched list comes off the already-persisted victim
      // postings, not another full-store scan
      val postings = Tables.parquet(s, s"$path/wins")
      def partKey = concat_ws("/",
        col("batch").cast("string"), col("wb").cast("string"))
      val touchedPks = vwinsP
        .select(partKey.as("pk")).distinct()
        .collect().map(_.getString(0)).sorted
      val stagedWinsDir = new java.io.File(s"$path/wins/.del-tmp")
      ArtifactCache.deleteRecursively(stagedWinsDir)
      if (touchedPks.nonEmpty)
        postings.filter(partKey.isin(touchedPks.toIndexedSeq: _*)).filter(!vcol)
          .write.mode("overwrite").partitionBy("batch", "wb")
          .parquet(stagedWinsDir.getPath)
      // which touched leaves produced survivor files (the rest emptied
      // out entirely) — recorded in the marker so a phase-B re-run can
      // tell "leaf already adopted by a crashed run" from "leaf
      // emptied": both leave no staged files behind
      val stagedLeaves = Option(stagedWinsDir.listFiles()).toSeq.flatten
        .filter(b => b.isDirectory && b.getName.startsWith("batch="))
        .flatMap { b =>
          Option(b.listFiles()).toSeq.flatten
            .filter(w => w.isDirectory && w.getName.startsWith("wb="))
            .map(w => s"${b.getName.stripPrefix("batch=")}/" +
              w.getName.stripPrefix("wb="))
        }.sorted
      (keepRemoved, touchedPks, stagedLeaves)
    } finally vwinsP.unpersist()
    val (keepRemoved, touchedPks, stagedLeaves) = staged
    CommitMarker(path, "delete").commit(Seq(s"ids:${victims.mkString(",")}",
      s"removed:${if (keepRemoved) "keep" else "drop"}",
      s"touched:${touchedPks.mkString(",")}",
      s"stagedleaves:${stagedLeaves.mkString(",")}"))
    true
  }

  /** Phase B: re-runnable from the marker alone — the wins rewrite
    * re-derives touched partitions from what is STILL on disk, staged
    * artifacts adopt by move (empty stage = already adopted), and the
    * `removed` disposition comes from the marker (never inferred from
    * a half-applied tree). */
  private[graft] def deletePhaseB(s: SparkSession, path: String): Unit = {
    val marker = CommitMarker(path, "delete")
    // the touched list is part of the marker contract: without it the
    // resume would skip the wins rewrite
    val lines = marker.read("touched")
    val victims = lines.list("ids").map(_.toLong)
    val keepRemoved = lines.field("removed").contains("keep")
    val touched = lines.list("touched")
    // 1. adopt phase A's staged survivor leaves — the stage is written
    // in the live leaf layout, so adoption is a per-leaf directory
    // MOVE, never a second read+rewrite of the slice (which doubled
    // the delete's I/O, measured at the 100× scale point). Resume =
    // re-run: the marker's stagedleaves line distinguishes "leaf
    // already adopted by a crashed run" (staged dir gone, live holds
    // the rewrite — skip) from "leaf emptied out entirely" (never
    // staged — drop the live leaf, idempotent); the stage root is
    // deleted only after every touched leaf is settled.
    val stagedWins = new java.io.File(s"$path/wins/.del-tmp")
    if (touched.nonEmpty && stagedWins.exists()) {
      def liveLeaf(pk: String): java.io.File = {
        val Array(b, w) = pk.split("/")
        new java.io.File(s"$path/wins/batch=$b/wb=$w")
      }
      lines.field("stagedleaves") match {
        case Some(_) =>
          val stagedSet = lines.list("stagedleaves").toSet
          touched.foreach { pk =>
            val Array(b, w) = pk.split("/")
            // a staged leaf already gone was adopted by a crashed run
            if (stagedSet(pk))
              CommitMarker.swapIn(
                new java.io.File(s"${stagedWins.getPath}/batch=$b/wb=$w"), liveLeaf(pk))
            else ArtifactCache.deleteRecursively(liveLeaf(pk))
          }
        case None =>
          // marker from the pre-manifest format (flat stage): replay
          // via the original dynamic-overwrite path
          if (ArtifactCache.hasVisibleParquet(stagedWins)) {
            def partKey = concat_ws("/",
              col("batch").cast("string"), col("wb").cast("string"))
            val remaining = Tables.parquet(s, stagedWins.getPath)
            remaining.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch", "wb").parquet(s"$path/wins")
            val survivors = remaining.select(partKey.as("pk")).distinct()
              .collect().map(_.getString(0)).toSet
            touched.filterNot(survivors)
              .foreach(pk => ArtifactCache.deleteRecursively(liveLeaf(pk)))
          } else touched.foreach(pk =>
            ArtifactCache.deleteRecursively(liveLeaf(pk)))
      }
      ArtifactCache.deleteRecursively(stagedWins)
    }
    // 2. adopt staged artifacts (part names carry job UUIDs — moves
    // are collision-free across repeated deletes)
    Seq("windf", "pairs").foreach(sub => CommitMarker.adopt(
      new java.io.File(s"$path/$sub/.del-tmp"), new java.io.File(s"$path/$sub/batch=-1")))
    // 3. removed store: swap in the rewrite, or drop it entirely when
    // the delete left nothing removed (everything resurrected / no
    // victim pairs and no prior store)
    if (keepRemoved) {
      val tmp = new java.io.File(s"$path/removed/.del-tmp")
      if (tmp.exists())
        Option(new java.io.File(s"$path/removed").listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith("batch="))
          .foreach(ArtifactCache.deleteRecursively)
      CommitMarker.swapIn(tmp, new java.io.File(s"$path/removed/batch=-1"))
    } else ArtifactCache.deleteRecursively(new java.io.File(s"$path/removed"))
    // 4. VICTIM-SCOPED re-closure over the post-delete live relation.
    // Removals break the warm-seed superset contract, but they can
    // only change components that CONTAIN a victim; additions
    // (resurrected/fresh pairs) can only change components containing
    // one of their endpoints — and phase A staged exactly those
    // endpoints as seeds. So: affected components = the previous
    // labels' components of (victims ∪ seeds); re-close COLD only
    // their pair subgraph; every other component keeps its labels
    // VERBATIM. Exactness: group ids are component-min ids in every
    // closure path, an unaffected component's pair set is unchanged
    // (its pairs never touch a victim, and no added pair can reach it
    // — both endpoints would be seeds), so its min — its label — is
    // what a full rebuild would assign. Cost drops from O(live pair
    // store) to O(victim components' subgraph): the 100× scale point's
    // dominant term (a cold closure over the full ~100× pair store,
    // 238 s measured) becomes victim-proportional.
    val pairsAll = Tables.parquet(s, s"$path/pairs")
      .select(col("doc_a"), col("doc_b"))
    val live =
      if (ArtifactCache.hasVisibleParquet(new java.io.File(s"$path/removed")))
        pairsAll.join(Tables.parquet(s, s"$path/removed")
          .select(col("doc_a"), col("doc_b")), Seq("doc_a", "doc_b"), "left_anti")
      else pairsAll
    val genNo = latestGen(path).getOrElse(0)
    val genDir = new java.io.File(s"$path/labels/gen=$genNo")
    val seedsDir = new java.io.File(s"$path/.del-seeds")
    if (ArtifactCache.hasVisibleParquet(genDir)) {
      s.sparkContext.setLocalProperty(DelClosureProperty, "scoped")
      import s.implicits._
      val prev = Tables.parquet(s, genDir.getPath)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("group_id").cast("long").as("group_id"))
      val seedNodes = (if (ArtifactCache.hasVisibleParquet(seedsDir))
          Tables.parquet(s, seedsDir.getPath)
            .select(col("doc_id").cast("long").as("doc_id"))
        else victims.toDF("doc_id").limit(0))
        .union(victims.toDF("doc_id")).distinct()
      val affectedGroups = prev.join(seedNodes, Seq("doc_id"), "left_semi")
        .select(col("group_id")).distinct()
      // members of affected components, plus seeds with no previous
      // label (a fresh pair can join media that never paired before)
      val affectedNodes = prev
        .join(affectedGroups, Seq("group_id"), "left_semi")
        .select(col("doc_id")).union(seedNodes).distinct()
        .persist()
      // one endpoint decides membership: a pre-existing live pair's
      // endpoints share a previous component (labels close over all
      // live pairs), and an added pair's endpoints are both seeds —
      // so doc_a ∈ affected ⟺ the pair belongs to the subgraph.
      // Broadcast the (label-store-bounded) node set under the family
      // budget: the frame sits behind joins Catalyst has no stats for,
      // and a sort-merge fallback here would shuffle-exchange the FULL
      // live pair store — O(pair store) per delete, exactly the term
      // the scoped closure exists to avoid
      val nAffected = affectedNodes.count()
      val affectedA = affectedNodes.withColumnRenamed("doc_id", "doc_a")
      val sub = live.join(
        if (nAffected <= Multimodal.BroadcastMediaBudget) broadcast(affectedA)
        else affectedA,
        Seq("doc_a"), "left_semi")
      val forest = Dedup.contractedForest(sub)
      val subLabels = Dedup.connectedComponents(forest)
      // stage the stitched labels, then swap atomically: the previous
      // generation stays readable until the new one fully exists, so a
      // crash anywhere re-runs this step (post-swap prev = the already-
      // correct labels, and re-scoping them is a fixpoint); a crash
      // inside the swap window leaves no readable gen and the re-run
      // takes the cold fallback below
      val tmpLabels = new java.io.File(s"$path/labels/.del-labels-tmp")
      ArtifactCache.deleteRecursively(tmpLabels)
      prev.join(affectedGroups, Seq("group_id"), "left_anti")
        .select(col("doc_id"), col("group_id"))
        .union(subLabels.select(col("doc_id"), col("group_id")))
        .write.mode("overwrite").parquet(tmpLabels.getPath)
      forest.unpersist()
      affectedNodes.unpersist()
      CommitMarker.swapIn(tmpLabels, genDir)
    } else {
      // no readable previous generation (crash inside the swap window,
      // or a state that never closed): full cold closure
      s.sparkContext.setLocalProperty(DelClosureProperty, "cold")
      val forest = Dedup.contractedForest(live)
      val labels = Dedup.connectedComponents(forest)
      labels.write.mode("overwrite").parquet(genDir.getPath)
      forest.unpersist()
    }
    ArtifactCache.deleteRecursively(seedsDir)
    // victims' hv rows are inert from here but still on disk — flag
    // the debt so the next compactState folds hv (even at a single
    // generation) and prunes rows with no surviving wins posting
    java.nio.file.Files.write(
      new java.io.File(s"$path/.hv-prune-due").toPath, Array.emptyByteArray)
    marker.clear()
  }

  /** Fold one media batch (media_id, content) into the group state and
    * return the new full labels (media_id, group_id). Specs force
    * distributed propagation with [[DriverCutover.MaxRowsKey]] and read
    * the measured round saving off [[Dedup.CcRoundsProperty]].
    *
    * `genOverride` pins the generation number instead of deriving it
    * from the existing `wins/batch=` dirs — the streaming wrapper's
    * REPLAY contract: every per-generation write here is an
    * `overwrite` of a gen-scoped dir and every read-back is a pure
    * function of (accumulated state, this batch), so re-running a
    * crashed generation WITH THE SAME gen reproduces the identical
    * end state (a replay without the pin would mint gen+1 and trip
    * the append-only id check). The prior-max contract check excludes
    * the generation being (re)written for the same reason. */
  def ingest(s: SparkSession, path: String, batch: DataFrame,
      threshold: Double = 0.99, maxDf: Int = 64,
      genOverride: Option[Int] = None): DataFrame = {
    require(!pendingCompact(path),
      s"pending state compaction at $path: run compactState to completion " +
        "before ingesting")
    require(!pendingDelete(path),
      s"pending delete at $path: run delete to completion before ingesting")
    val gen = genOverride.getOrElse(
      batchDirs(path, "wins").lastOption.map(_ + 1).getOrElse(0))
    val b = batch.select(col("media_id").cast("long").as("media_id"), col("content"))

    // ---- arrival-order contract: batch ids strictly above all prior
    val ids = b.agg(min(col("media_id")), max(col("media_id"))).head()
    if (ids.isNullAt(0)) return currentLabels(s, path)
    val (minDelta, maxDelta) = (ids.getLong(0), ids.getLong(1))
    val metaDir = new java.io.File(s"$path/meta")
    val priorMax = Option(metaDir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("batch-") && f.getName != s"batch-$gen")
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .trim.split(",")(1).toLong)
      .sorted.lastOption
    require(priorMax.forall(_ < minDelta),
      s"append-only contract: batch min id $minDelta must exceed prior max $priorMax")

    // ---- 1. append the delta's postings, df partial, and vectors.
    // Postings are bucket-partitioned by a window-hash (wb) so the
    // eligible-window joins below carry the partition column — AQE
    // broadcasts the delta-sized eligible set and DPP prunes the
    // posting scan to its buckets (the matchAgainstVideo shape).
    val wb = pmod(xxhash64(col("win")), lit(64)).as("wb")
    // the stride-4 window explode is the heaviest per-delta transform
    // and feeds three consumers (wins write, windf partial, touched
    // semi-join): compute it ONCE into the wins store, then serve the
    // other two from the columnar read-back — a persist would pin the
    // delta's full window relation in executor memory (GBs at the
    // 100× scale point) for work parquet re-reads do nearly free
    mediaWindows(b).withColumn("wb", wb)
      .write.mode("overwrite").partitionBy("wb").parquet(s"$path/wins/batch=$gen")
    val dwins = Tables.parquet(s, s"$path/wins/batch=$gen")
      .select(col("media_id"), col("win"))
    dwins.groupBy(col("win")).agg(count(lit(1)).as("cnt"))
      .write.mode("overwrite").parquet(s"$path/windf/batch=$gen")
    // byteHistVec decodes through the typed MediaRow shape — the kind
    // tag is irrelevant to the histogram
    Multimodal.byteHistVec(s, b.withColumn("kind", lit("media")))
      .withColumn("n2",
        graft.functions.VectorFunctions.arrayDot(col("hvec"), col("hvec")))
      .write.mode("overwrite").parquet(s"$path/hv/batch=$gen")
    metaDir.mkdirs()
    java.nio.file.Files.write(new java.io.File(metaDir, s"batch-$gen").toPath,
      s"$minDelta,$maxDelta".getBytes("UTF-8"))

    val allWins = Tables.parquet(s, s"$path/wins")
      .select(col("media_id"), col("win"), col("wb"))
    val partials = Tables.parquet(s, s"$path/windf")

    // ---- 2. delta-touched window dfs, now vs before this batch —
    // partials are SEMI-JOINED to the delta's window set before the
    // aggregation, so the per-generation shuffle carries touched
    // windows' partials only, never the full corpus statistic
    val touched = partials
      .join(dwins.select(col("win")).distinct(), Seq("win"), "left_semi")
      .groupBy(col("win"))
      .agg(sum(col("cnt")).as("df_now"),
        sum(when(col("batch") === gen, col("cnt")).otherwise(0L)).as("d_cnt"))

    // ---- 3. delta-headed candidates over currently-eligible windows
    val elig = touched.filter(col("df_now").between(2, maxDf))
      .select(col("win")).withColumn("wb", wb)
    val members = allWins.join(elig, Seq("wb", "win"), "left_semi")
    val cand = members.as("a")
      .join(members.as("b"),
        col("a.win") === col("b.win") &&
          col("a.media_id") < col("b.media_id") &&
          col("b.media_id") >= minDelta)
      .select(col("a.media_id").as("doc_a"), col("b.media_id").as("doc_b"))
      .distinct()
    val hv = Tables.parquet(s, s"$path/hv")
      .select(col("media_id"), col("hvec"), col("n2"))
    val nMedia = hv.count()
    def side(df: DataFrame) =
      if (nMedia <= Multimodal.BroadcastMediaBudget) broadcast(df) else df
    val cosu = graft.functions.VectorFunctions.arrayDot(col("va"), col("vb")) /
      (sqrt(col("na2")) * sqrt(col("nb2")))
    val verified = cand
      .join(side(hv.select(col("media_id").as("doc_a"), col("hvec").as("va"),
        col("n2").as("na2"))), Seq("doc_a"))
      .join(side(hv.select(col("media_id").as("doc_b"), col("hvec").as("vb"),
        col("n2").as("nb2"))), Seq("doc_b"))
      .filter(cosu >= threshold)
      .select(col("doc_a"), col("doc_b"))
    verified.write.mode("overwrite").parquet(s"$path/pairs/batch=$gen")

    // ---- 4. cap-crossing repair (exactness under the df cap)
    val crossed = touched
      .filter(col("df_now") > maxDf &&
        (col("df_now") - col("d_cnt")).between(2, maxDf))
      .select(col("win"))
    var removedAny = false
    if (!crossed.isEmpty) {
      // old member pairs of each crossed window (≤ maxDf members — the
      // window was under cap before this batch), re-checked for support
      val oldM = allWins.join(crossed, Seq("win"), "left_semi")
        .filter(col("media_id") < minDelta)
      val suspect = oldM.as("a")
        .join(oldM.as("b"),
          col("a.win") === col("b.win") && col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("doc_a"), col("b.media_id").as("doc_b"))
        .distinct()
      // support = ANY shared window whose live df is in [2, maxDf]; df
      // evaluated only for the suspects' own windows (delta-restricted
      // lookup, the video-keydf shape)
      val suspIds = suspect.select(col("doc_a").as("media_id"))
        .union(suspect.select(col("doc_b"))).distinct()
      val mWins = allWins.join(suspIds, Seq("media_id"), "left_semi")
      val winDf = partials
        .join(mWins.select(col("win")).distinct(), Seq("win"), "left_semi")
        .groupBy(col("win")).agg(sum(col("cnt")).as("df"))
        .filter(col("df").between(2, maxDf)).select(col("win"))
      val eligMWins = mWins.join(winDf, Seq("win"), "left_semi")
      val supported = suspect.as("p")
        .join(eligMWins.as("wa"), col("p.doc_a") === col("wa.media_id"))
        .join(eligMWins.as("wb"),
          col("p.doc_b") === col("wb.media_id") && col("wa.win") === col("wb.win"))
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .distinct()
      val livePairsSoFar = Tables.parquet(s, s"$path/pairs")
        .select(col("doc_a"), col("doc_b"))
      val removals = suspect.except(supported)
        .join(livePairsSoFar, Seq("doc_a", "doc_b"), "left_semi")
      if (!removals.isEmpty) {
        removals.write.mode("overwrite").parquet(s"$path/removed/batch=$gen")
        removedAny = true
      }
    }

    // ---- 5. closure: warm from the previous labels unless repaired
    val pairsAll = Tables.parquet(s, s"$path/pairs").select(col("doc_a"), col("doc_b"))
    val live =
      if (ArtifactCache.hasVisibleParquet(new java.io.File(s"$path/removed")))
        pairsAll.join(Tables.parquet(s, s"$path/removed")
          .select(col("doc_a"), col("doc_b")), Seq("doc_a", "doc_b"), "left_anti")
      else pairsAll
    val forest = Dedup.contractedForest(live)
    val prev = latestGen(path).map(g => Tables.parquet(s, s"$path/labels/gen=$g"))
    val labels =
      if (removedAny || prev.isEmpty) Dedup.connectedComponents(forest)
      else Dedup.connectedComponentsWarm(forest, prev.get)
    labels.write.mode("overwrite").parquet(s"$path/labels/gen=$gen")
    forest.unpersist()
    currentLabels(s, path)
  }

  /** The latest generation's labels (empty two-column frame before any
    * ingest). Refuses mid-[[delete]]: the apply rewrites the latest
    * label generation in place. */
  def currentLabels(s: SparkSession, path: String): DataFrame = {
    if (pendingDelete(path))
      throw new IllegalStateException(
        s"pending delete at $path: run delete to completion before probing")
    latestGen(path) match {
      // exists-but-empty → empty frame (the family's empty-store
      // idiom): an all-victim takedown writes a labels generation with
      // no rows, which parquet materializes as a footerless dir
      case Some(g) if ArtifactCache.hasVisibleParquet(
          new java.io.File(s"$path/labels/gen=$g")) =>
        Tables.parquet(s, s"$path/labels/gen=$g")
          .select(col("doc_id").as("media_id"), col("group_id"))
          .orderBy(col("media_id"))
      case _ =>
        import s.implicits._
        Seq.empty[(Long, Long)].toDF("media_id", "group_id")
    }
  }

  /** Driver-contract lifecycle query — `q_media_dup_groups_incremental`:
    * ingest the below-`splitId` half of the media corpus as generation
    * 0 and the rest as generation 1, report the full labels. Equals
    * [[Multimodal.mediaDupGroups]] over the whole corpus by the
    * exactness argument above (crossing-repaired), so it shares the
    * recursive-CTE reachability oracle. The two-generation run is one
    * build-once artifact (fingerprint-keyed); repeat queries read the
    * persisted labels — the amortization IS the operator's point. */
  def mediaDupGroupsIncremental(s: SparkSession, dir: String,
      splitId: Long = 400L): DataFrame = {
    val path = ArtifactCache.ensure(
      ArtifactCache.key("mediagroups-inc", dir, "documents.parquet", splitId)) { tmp =>
      val media = Multimodal.mediaTable(s, dir)
        .select(col("media_id"), col("content"))
      ingest(s, tmp, media.filter(col("media_id") < splitId))
      ingest(s, tmp, media.filter(col("media_id") >= splitId))
    }
    currentLabels(s, path)
  }

  /** Driver-contract takedown query — `q_media_dup_groups_takedown`:
    * the two-generation incremental build, then [[delete]] of every
    * media with `media_id % 7 == 3` (a deterministic victim set spread
    * across both generations, certain to intersect real groups at the
    * test scales). By the delete-exactness argument the surviving
    * labels equal the one-shot over the remaining corpus, so the
    * oracle is the SAME recursive-CTE reachability with the victim
    * predicate pushed into the document source. Build-once artifact;
    * repeat queries read the persisted post-delete labels. */
  def mediaDupGroupsTakedown(s: SparkSession, dir: String,
      splitId: Long = 400L): DataFrame = {
    val path = ArtifactCache.ensure(
      ArtifactCache.key("mediagroups-del", dir, "documents.parquet", splitId)) { tmp =>
      val media = Multimodal.mediaTable(s, dir)
        .select(col("media_id"), col("content"))
      ingest(s, tmp, media.filter(col("media_id") < splitId))
      ingest(s, tmp, media.filter(col("media_id") >= splitId))
      // a takedown list is bounded by contract — this collect is the
      // caller handing the operator its victim ids, not a data plane
      val victims = media.filter(pmod(col("media_id"), lit(7)) === 3)
        .select(col("media_id")).collect().map(_.getLong(0)).toSeq
      delete(s, tmp, victims)
    }
    currentLabels(s, path)
  }
}
