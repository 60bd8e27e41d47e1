package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions

/** Materialized IVF index: the build-once counterpart of
  * [[Similarity.knnIvf]], the same move [[IndexStore]] makes for the
  * letter index. `knnIvf` recomputes seed selection, k-means, and cell
  * assignment on every call — the right shape for a one-off query, but
  * at 100 TB the assignment is an artifact you build once and persist
  * PARTITIONED BY `cent_id`, so each query reads only its probed cells'
  * directories (a `PartitionFilters` prune, verified in
  * IvfIndexSpec) and the per-query cost is metadata + a few cells, not
  * a corpus pass.
  *
  * Layout under `path`:
  *  - `assigned/` — (vec_id, emb, nrm, label) partitioned by cent_id;
  *  - `centroids/` — (cent_id, cent_emb, cent_nrm), ≤ maxCells rows
  *    (bounded driver model state, same policy as [[Similarity]]).
  *
  * The probed cell ids are collected to the driver before the scan —
  * ≤ queries × nprobe longs, bounded model state, and the price of
  * turning a runtime join into a STATIC partition prune the scan can
  * apply before reading a byte of data.
  */
object IvfIndex {

  /** Cell count above which [[build]] runs its final corpus assignment
    * through the two-level descent ([[Similarity.assignCellsHier]])
    * instead of the flat scan. The flat pass is O(n·C·d) and its wall
    * time grows LINEARLY in C (measured, `SCALE.json` assignment_200k:
    * 0.76 s at C=506 → 11.62 s at C=4183 on 200k vectors) while the
    * descent stays near-flat (0.20 → 1.12 s, agreement ≥ 0.9997); the
    * default threshold sits past every tested corpus's √n cell count
    * (≤ 448), so gate results are bit-unchanged, and a 10⁹-vector
    * deployment at the 4096 cap gets the 10× assignment automatically.
    */
  val HierAssignThresholdKey = "spark.graft.ivf.hierAssignThreshold"
  val HierAssignThresholdDefault = 1024

  /** Build + persist: √n-policy seeds, optional Lloyd refinement, every
    * corpus vector assigned to its nearest centroid by the narrow
    * [[Similarity.assignCells]] projection — or, past the
    * [[HierAssignThresholdKey]] cell count, by the equally-narrow
    * two-level descent. One corpus pass plus the partitioned write.
    */
  def build(s: SparkSession, dir: String, path: String,
      kmeansIters: Int = 1, maxCells: Int = 4096): Unit = {
    val e = Similarity.emb(s, dir)
    val seeds = Similarity.cellSeeds(e, maxCells)
    val cents = if (kmeansIters > 0) Similarity.kmeansCentroids(e, seeds, kmeansIters)
      else seeds
    val cells = Similarity.collectCells(cents)
    val threshold = s.conf.getOption(HierAssignThresholdKey).map(_.toInt)
      .getOrElse(HierAssignThresholdDefault)
    val assigned =
      if (cells.ids.size > threshold)
        Similarity.assignCellsHier(e, Similarity.hierIndex(cells))
      else Similarity.assignCells(e, cells)
    assigned
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/assigned")
    cents.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Top-k ANN over the persisted index. `queries` carries
    * (query_id, q_emb, q_nrm) — see [[Similarity.emb]] for the norm
    * convention. Same schema and semantics as [[Similarity.knnIvf]]
    * with identical centroids; only the execution differs: the corpus
    * side is a partition-pruned scan of the probed cells.
    */
  def knn(s: SparkSession, path: String, queries: DataFrame,
      k: Int = 5, nprobe: Int = 16): DataFrame = {
    // model state memoized per published artifact (fingerprint-keyed
    // path, immutable once done-marked) — repeat queries skip the
    // centroid-collect job. insert()/compact() mutate only assigned/
    // and deleted/, never centroids/, so the cache stays valid.
    val cells = Similarity.cellsOfArtifact(s, path)
    val probes = Similarity.probeCells(queries, cells, nprobe)
    // the probed cell set is ≤ queries × nprobe ids; as literals it
    // becomes a PartitionFilter the scan applies before reading data
    val probedIds = probes.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val pruned = Tables.parquet(s, s"$path/assigned")
      .filter(col("cent_id").isin(probedIds: _*))
    // tombstoned vectors must not surface as neighbors; the set is
    // bounded by the delete rate between compactions, so it broadcasts
    val assigned = tombstones(s, path)
      .fold(pruned)(d => pruned.join(broadcast(d), Seq("vec_id"), "left_anti"))
    Similarity.searchCells(assigned, probes, k)
  }

  /** Quantized (int8) SIDECAR of a persisted index — the FAISS
    * IVF+SQ8 layout as a second cent_id-partitioned table:
    * `assigned_sq8/` holding (vec_id, nrm, scale, qemb array<tinyint>)
    * — 1 byte/dim where `assigned/` carries 8. Built ONCE per index
    * artifact (the index path is fingerprint-keyed and immutable, so
    * `$indexPath-sq8` inherits its generation); [[insert]] appends the
    * quantized delta whenever the sidecar exists, and [[compact]]
    * DROPS it (physical tombstone removal can't be mirrored without a
    * rewrite — the sidecar is derived state and rebuilds on demand).
    *
    * Why it exists: the probed-cell scan dominates IVF search cost,
    * and it only needs enough precision to get the true top-k into a
    * rerank pool — [[knnSq8Rerank]] scores probed cells from THIS
    * table and touches full-precision rows only for the tiny pool, so
    * a ≥0.9-recall probe width stops costing a wide full-precision
    * scan (measured in RECALL.json: the nprobe=32 point's scored
    * full-precision reads drop from ~14.5k rows to queries × rerank).
    */
  /** Sidecars this JVM has already built or count-validated — the
    * torn-insert check guards against a CRASHED PREVIOUS process, so
    * it needs to run once per (process, sidecar), not once per query;
    * every in-process mutation ([[insert]], [[compact]]) drops the
    * entry so the next query revalidates. */
  private val sq8Validated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Per-sidecar mutation/validation lock (intern'd by sidecar path).
    * [[ensureSq8]]'s count validation races an in-flight [[insert]] in
    * the same JVM without it: insert appends to assigned/ BEFORE the
    * sidecar, so a concurrent first-validation observes a transient
    * count mismatch and deletes a healthy sidecar out from under the
    * in-flight append — leaving a half-written dir whose done marker
    * is gone but whose files can collide with the rebuild. All sidecar
    * mutation (insert's append, compact's drop) and validation
    * serialize on this object; cross-process mutation remains a
    * single-writer contract (the ArtifactCache publish-lock scope). */
  private val sq8Locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def sq8Lock(key: String): Object =
    sq8Locks.computeIfAbsent(key, _ => new Object)

  /** Test hook: simulate a process restart for `indexPath`'s sidecar
    * (the torn-insert spec mutates assigned/ behind the memo's back
    * the way a crashed previous process would have). */
  private[graft] def forgetSidecarValidation(indexPath: String): Unit =
    sq8Validated.remove(s"$indexPath-sq8")

  def ensureSq8(s: SparkSession, indexPath: String): String = {
    val key = s"$indexPath-sq8"
    // crash-consistency check BEFORE serving stage 1: insert() appends
    // to assigned/ then to the sidecar, and a process death between the
    // two leaves a done-marked sidecar that is short the delta — which
    // no failure handler can see afterwards. Row counts are parquet
    // footer metadata (no data scan), so validating costs two metadata
    // reads; a mismatch drops the sidecar (derived state) and the
    // ensure below rebuilds it from the authoritative assigned/.
    // Memoized per JVM: the torn state can only be inherited FROM A
    // PREVIOUS process, so one validation per process suffices and
    // repeat queries skip both counts (measured ~0.3-0.5 s per call on
    // a 4096-cell layout — partition discovery, not data, but paid per
    // query without the memo).
    sq8Lock(key).synchronized {
      if (!sq8Validated.contains(key) && ArtifactCache.isDone(key) &&
          Tables.parquet(s, s"$key/assigned_sq8").count() !=
            Tables.parquet(s, s"$indexPath/assigned").count())
        ArtifactCache.deleteRecursively(new java.io.File(key))
      val out = ArtifactCache.ensure(key) { tmp =>
        writeSq8(Tables.parquet(s, s"$indexPath/assigned")
          .withColumn("cent_id", col("cent_id").cast("long")), tmp, "overwrite")
      }
      sq8Validated.add(key)
      out
    }
  }

  private def writeSq8(assigned: DataFrame, path: String, mode: String): Unit = {
    val (scale, qemb) = Similarity.sq8Cols(col("emb"))
    assigned
      .select(col("cent_id"), col("vec_id"), col("nrm"),
        scale.as("scale"), qemb.as("qemb"))
      .write.mode(mode).partitionBy("cent_id").parquet(s"$path/assigned_sq8")
  }

  /** Two-stage search over the persisted index: probe `nprobe` cells,
    * score the probed candidates from the QUANTIZED sidecar, keep the
    * top `rerank` per query (bounded-heap partial agg), then re-score
    * ONLY that pool from the full-precision table — partition-pruned
    * to the probed cells AND row-filtered by the pooled vec_ids (a
    * pushed `In`, so parquet row-group stats skip everything else).
    * Final top-k is exact arithmetic end-to-end ([[Similarity.knnSq8]]
    * contract: with rerank ≫ k the result equals the plain
    * full-precision nprobe-wide search — spec-asserted).
    *
    * The cost shape this buys at a wide (recall-critical) probe:
    * full-precision reads stop scaling with probe width — stage 1
    * reads 1-byte dims of the probed cells, stage 2 reads
    * queries × rerank full-precision rows regardless of nprobe.
    */
  def knnSq8Rerank(s: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 32, rerank: Int = 50): DataFrame = {
    val path = ensureIndex(s, dir)
    val q = Similarity.emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    knnSq8RerankAt(s, path, q, k, nprobe, rerank)
  }

  /** Path-parameterized core of [[knnSq8Rerank]] — specs drive temp
    * indexes through the insert/compact lifecycle with it. */
  private[graft] def knnSq8RerankAt(s: SparkSession, path: String,
      q: DataFrame, k: Int, nprobe: Int, rerank: Int): DataFrame = {
    val sq8 = ensureSq8(s, path)
    val cells = Similarity.cellsOfArtifact(s, path)
    // probe ranking on the DRIVER ([[Similarity.rankProbes]]): one
    // bounded q.collect() replaces TWO jobs (the probeCells window +
    // the probed-id distinct collect) with the identical probe set
    val qRows = q.select(col("query_id"), col("q_emb"), col("q_nrm"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toIndexedSeq
    val probeRows = qRows.flatMap { case (qid, qe, qn) =>
      Similarity.rankProbes(qe, qn, cells, nprobe).map(cid => (qid, qe, qn, cid))
    }
    val probedIds = probeRows.map(_._4).distinct.sorted
    import s.implicits._
    val probes = probeRows.toDF("query_id", "q_emb", "q_nrm", "cent_id")
    // stage 1: quantized scan of the probed cells (tombstones applied
    // here so a deleted vector can't burn a pool slot either)
    val pruned = Tables.parquet(s, s"$sq8/assigned_sq8")
      .filter(col("cent_id").isin(probedIds: _*))
    val live = tombstones(s, path)
      .fold(pruned)(d => pruned.join(broadcast(d), Seq("vec_id"), "left_anti"))
    val approx = live.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("acos", Similarity.sq8Cos(col("qemb"), col("scale"),
        col("nrm"), col("q_emb"), col("q_nrm")))
    val poolTopk = udaf(new graft.functions.TopKAggregator(rerank))
    // the pool is bounded driver state (≤ queries × rerank pairs) —
    // collect it ONCE: the previous shape consumed the `pool` plan in
    // two separate ACTIONS (the poolIds collect, then the final top-k
    // job), and exchange reuse cannot span actions, so the whole
    // stage-1 quantized scan + heap aggregate executed twice (measured
    // ~2.5 s → ~1.4 s per warm call at sf0.1)
    val poolRows = approx
      .groupBy(col("query_id"))
      .agg(poolTopk(col("acos"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // stage 2: exact re-score of the pool only — the pooled ids push
    // down as partition prune + In filter before a full-precision byte
    // is read
    val poolIds = poolRows.map(_._2).distinct.sorted
    // observable cost axis for the recall report: full-precision rows
    // the exact pass reads (the pooled distinct ids — everything else
    // is pruned/filtered before a full-precision byte moves)
    s.sparkContext.setLocalProperty("graft.ivf.sq8.fp_reads",
      poolIds.length.toString)
    import s.implicits._
    val pool = poolRows.toIndexedSeq.toDF("query_id", "vec_id")
      .join(broadcast(q), Seq("query_id"))
    val exactRows = Tables.parquet(s, s"$path/assigned")
      .filter(col("cent_id").isin(probedIds: _*))
      .filter(col("vec_id").isin(poolIds: _*))
      .select(col("vec_id"), col("emb"), col("nrm"))
    val rescored = exactRows.join(broadcast(pool), Seq("vec_id"))
      .withColumn("cos", graft.functions.Rounding.portableRound4(
        VectorFunctions.arrayDot(col("emb"), col("q_emb")) /
          (col("nrm") * col("q_nrm"))))
    Similarity.topKPerQuery(rescored, k)
  }

  /** Incremental insert: fold new vectors into the persisted index
    * WITHOUT rebuilding — the vector-side counterpart of
    * [[IndexStore.merge]]. New vectors are assigned to their nearest
    * EXISTING centroid (the same narrow projection the build uses) and
    * appended; append mode only adds files under the touched `cent_id`
    * directories, so nothing already on disk is rewritten and queries
    * see the union immediately.
    *
    * Centroids stay fixed — the standard IVF ingest contract (FAISS
    * `add()` does the same): cell QUALITY degrades only as the data
    * distribution drifts, at which point a periodic [[build]] refresh
    * re-trains; membership correctness never degrades, because probes
    * rank against the same centroids the assignment used.
    *
    * `delta` must carry the [[Similarity.emb]] schema
    * (vec_id, emb, label, nrm).
    */
  def insert(s: SparkSession, path: String, delta: DataFrame): Unit = {
    val cells = Similarity.collectCells(Tables.parquet(s, s"$path/centroids"))
    val assigned = Similarity.assignCells(delta, cells)
    // BOTH appends run under the sidecar lock: a concurrent ensureSq8
    // validation interleaving between them would observe the transient
    // assigned-ahead-of-sidecar count mismatch, rebuild the sidecar
    // (already delta-inclusive), and then this append would land the
    // delta a second time
    sq8Lock(s"$path-sq8").synchronized {
    assigned
      .write.mode("append").partitionBy("cent_id").parquet(s"$path/assigned")
    // keep the quantized sidecar consistent at delta cost: quantize the
    // SAME assigned rows and append under the same touched cells (a
    // sidecar that hasn't been built yet needs nothing — it derives
    // from assigned/ whenever first demanded). The two appends are NOT
    // one transaction: a crash or write failure between them would
    // leave the sidecar permanently missing this delta while its done
    // marker stays valid, and knnSq8Rerank would silently omit the
    // inserted vectors from stage 1 forever. The sidecar is DERIVED
    // state, so the consistent recovery is the same one compact() uses:
    // on any append failure drop the whole sidecar and let the next
    // two-stage query rebuild it from assigned/ (which already holds
    // the delta — its append committed above).
    if (ArtifactCache.isDone(s"$path-sq8"))
      try writeSq8(assigned, s"$path-sq8", "append")
      catch { case e: Throwable =>
        ArtifactCache.deleteRecursively(new java.io.File(s"$path-sq8"))
        throw e
      }
      finally sq8Validated.remove(s"$path-sq8") // revalidate after mutation
    }
  }

  /** Tombstone delete — the FAISS `remove_ids` analog, split into the
    * two phases a persisted index needs: deletion is an O(ids) append
    * to `$path/deleted/` (no data files touched, immediately visible
    * to queries), and physical removal is deferred to [[compact]].
    * Queries anti-join the tombstone set; between compactions it is
    * bounded by the delete rate, so the anti-join broadcasts.
    */
  def delete(s: SparkSession, path: String, vecIds: DataFrame): Unit =
    vecIds.select(col("vec_id")).write.mode("append").parquet(s"$path/deleted")

  /** The live tombstone set, or None when nothing is deleted. Refuses
    * while a [[compact]] is mid-swap: between the marker commit and
    * the final tombstone clear, assigned/ may hold a half-applied
    * rewrite — a probe through it would be neither the pre- nor the
    * post-compaction index (the lifecycle family's guard). */
  private def tombstones(s: SparkSession, path: String): Option[DataFrame] = {
    if (pendingApply(path))
      throw new IllegalStateException(
        s"pending tombstone compaction at $path: re-run IvfIndex.compact " +
          "to completion before probing")
    val d = new java.io.File(s"$path/deleted")
    // look for data files specifically: a compaction clears the
    // parquet files it applied but may leave commit markers behind
    if (Option(d.listFiles()).exists(_.exists(_.getName.endsWith(".parquet"))))
      Some(Tables.parquet(s, s"$path/deleted").select(col("vec_id")).distinct())
    else None
  }

  /** True while a [[compact]] is mid-swap — probes refuse and the
    * caller must re-run compact to completion first. */
  private[graft] def pendingApply(path: String): Boolean =
    CommitMarker(s"$path/deleted", "apply").pending

  /** Physically drop tombstoned vectors: rewrite ONLY the cells that
    * contain one (bounded driver id set, same policy as
    * [[Upsert.applyBucketed]]), via dynamic partition overwrite, so
    * untouched cells' bytes are never rewritten — compaction cost ∝
    * deletions + touched cells, not index size. A cell emptied
    * entirely is removed explicitly. Tombstones are cleared afterwards
    * (they are now physically gone). Crash safety is the
    * [[CommitMarker]] protocol ([[MediaIndexOps.compact]]'s shape):
    * phase A stages the touched cells' survivor slice to disk and
    * commits a marker naming the tombstone files being applied plus
    * the touched cells; phase B — re-runnable from the marker and the
    * atomically-retired stage alone — replays the rewrite
    * disk-to-disk. The first cut had no marker: a crash mid-overwrite
    * lost surviving vectors forever, because the re-run discarded the
    * durable stage and re-staged from the half-swapped index. */
  def compact(s: SparkSession, path: String): Unit =
    if (compactPhaseA(s, path)) compactPhaseB(s, path)

  /** Phase A: stage the survivor slice, then commit intent via the
    * marker (atomic rename). Returns false when there is nothing to
    * apply; true when a marker is pending — freshly committed or
    * inherited from a crashed run (resume it; a delete() racing either
    * appends a tombstone file absent from the marker, which survives
    * for the next compaction). */
  private[graft] def compactPhaseA(s: SparkSession, path: String): Boolean = {
    if (pendingApply(path)) return true
    val delDir = new java.io.File(s"$path/deleted")
    val snapshot = Option(delDir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    if (snapshot.isEmpty) return false
    val deleted = Tables.parquet(s, snapshot.map(_.getPath): _*)
      .select(col("vec_id")).distinct()
    val assigned = Tables.parquet(s, s"$path/assigned")
    // cent_id is a partition DIRECTORY column on read-back, so it
    // arrives as int — normalize to long before collecting
    val touched = assigned.join(deleted, Seq("vec_id"), "left_semi")
      .select(col("cent_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.map(_.toString)
    // stage the survivors to DISK (never an in-memory pin: a takedown
    // flood touches most cells and a pinned index-sized vector slice
    // is the 8g-JVM OOM class the whole family stages around)
    val stage = new java.io.File(s"$path/assigned/.del-tmp")
    ArtifactCache.deleteRecursively(stage)
    if (touched.nonEmpty)
      assigned
        .filter(col("cent_id").isin(touched.map(_.toLong).toIndexedSeq: _*))
        .join(broadcast(deleted), Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(stage.getPath)
    CommitMarker(s"$path/deleted", "apply").commit(
      snapshot.map(f => s"tomb:${f.getName}") :+ s"touched:${touched.mkString(",")}")
    true
  }

  /** Phase B: re-runnable from the marker alone — the rewrite replays
    * from the staged slice via THE shared applier (atomic stage
    * retirement makes the resume inference safe), the marker's
    * tombstone files clear exactly, and the marker drops LAST. */
  private[graft] def compactPhaseB(s: SparkSession, path: String): Unit = {
    val marker = CommitMarker(s"$path/deleted", "apply")
    val lines = marker.read("touched")
    val listed = lines.every("tomb")
    MediaIndexOps.applyStagedRewrite(s,
      new java.io.File(s"$path/assigned/.del-tmp"), s"$path/assigned",
      Seq("cent_id"), lines.list("touched"))
    // clear exactly the applied tombstone files (a racing delete()'s
    // new file survives for the next compaction)
    val delDir = new java.io.File(s"$path/deleted")
    Option(delDir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && listed.contains(f.getName)).foreach(_.delete())
    // the quantized sidecar still holds the physically-removed rows
    // and, with the tombstones cleared, would resurrect them in a
    // quantized probe — it is derived state, so drop it and let the
    // next knnSq8Rerank rebuild from the compacted assigned/
    sq8Lock(s"$path-sq8").synchronized {
      ArtifactCache.deleteRecursively(new java.io.File(s"$path-sq8"))
      sq8Validated.remove(s"$path-sq8")
    }
    marker.clear()
    if (Option(delDir.listFiles()).exists(_.forall(f =>
        !f.getName.endsWith(".parquet"))))
      ArtifactCache.deleteRecursively(delDir)
  }

  /** Build-once shared grid artifact for `dir` at a given training
    * depth: fingerprinted + done-marked like every /tmp artifact cache
    * (a regenerated corpus must never be probed through a stale index,
    * and centroids/_SUCCESS alone can't vouch for assigned/), keyed by
    * `kmeansIters` so the 1- and 2-iteration grids coexist. THE way a
    * deployment amortizes IVF training: cost ∝ corpus per index
    * GENERATION, never per query — [[Similarity.annRecall]] and the
    * standalone kmeans query both serve from here instead of
    * re-training (the r10 q_knn_ivf_kmeans 4.6× regression was exactly
    * per-query training).
    */
  def ensureIndex(s: SparkSession, dir: String, kmeansIters: Int = 1,
      maxCells: Int = 4096): String = {
    ArtifactCache.ensure(
      ArtifactCache.key("ivf", dir, "embeddings.parquet", kmeansIters, maxCells)) {
      tmp => build(s, dir, tmp, kmeansIters, maxCells)
    }
  }

  /** The q_knn_ivf_indexed / q_knn_ivf_kmeans entries: build the index
    * for `dir` once under /tmp (keyed by corpus fingerprint + training
    * depth; reused across calls — that is the point of a persisted
    * index), query with the standard vec_id < 10 set. Results match
    * knnIvf at the same `kmeansIters` exactly — same seeds, same Lloyd
    * steps, same probe policy (asserted in IvfIndexSpec for both
    * depths).
    */
  def knnIndexed(s: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 16, kmeansIters: Int = 1): DataFrame = {
    val path = ensureIndex(s, dir, kmeansIters)
    val q = Similarity.emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    knn(s, path, q, k, nprobe)
  }
}
