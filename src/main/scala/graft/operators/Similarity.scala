package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers:
  *  - [[knnBruteForce]] — exact cosine top-k. The query set is tiny and
  *    broadcast; the corpus is scanned once, cosine evaluated by the
  *    codegen'd [[graft.functions.ArrayDotProduct]] expression, top-k
  *    taken with a rank window partitioned by query. Cost:
  *    O(|corpus| × |queries|) FLOPs, one scan, no corpus shuffle — the
  *    right baseline even at scale when |queries| is small.
  *  - [[knnIvf]] — IVF-style approximate path: corpus vectors are
  *    assigned to their nearest centroid, queries probe only the
  *    `nprobe` nearest cells, so the per-query cost drops to the probed
  *    fraction of the corpus. This is the 100 TB shape: the assignment
  *    is a narrow column you'd persist/bucket by, and each query
  *    touches a few cells.
  *
  * Cell assignment is a NARROW PROJECTION: the centroid set — bounded
  * to at most `maxCells` rows by policy — is collected once and
  * embedded as array LITERALS (the MLlib-KMeans pattern: model state
  * lives on the driver and ships to executors with the task binary),
  * and the codegen'd [[graft.functions.NearestCell]] expression picks
  * the argmax cell in one loop. No corpus×C row explosion, no window
  * over the exploded set, no `groupBy(vec_id)` reduction, and no join
  * of any kind — the corpus is never shuffled just to learn its cells
  * (the first real shuffle is whatever keyed operation the caller does
  * next, e.g. the cell join).
  *
  * Centroid count follows a √n policy (see [[cellSeeds]]): C grows with
  * the corpus but the broadcast centroid table stays bounded by
  * `maxCells` — at 10⁹ vectors C saturates at 4096 centroids ≈ 2 MB of
  * doubles, not the n/50 = 2·10⁷ a fixed stride would produce.
  *
  * L2 norms are computed ONCE per vector and carried as a column;
  * pairwise cosine is then a single dot + divide. All arithmetic is
  * double (floats upcast first), summation left-to-right — bit-equal
  * to the DuckDB oracle.
  */
object Similarity {

  def toDouble(arr: Column): Column = transform(arr, _.cast("double"))

  /** Exact cosine via the codegen'd dot expression (norms recomputed —
    * use the norm-column form in pairwise loops).
    */
  def cosine(a: Column, b: Column): Column =
    VectorFunctions.arrayDot(a, b) /
      (VectorFunctions.l2Norm(a) * VectorFunctions.l2Norm(b))

  /** embeddings with per-row precomputed norm. */
  private[graft] def emb(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"), col("label"))
      .withColumn("nrm", VectorFunctions.l2Norm(col("emb")))
  }

  /** Per-query top-k over a scored (query_id, vec_id, cos) table via
    * the bounded-heap [[graft.functions.TopKAggregator]] — row- and
    * order-identical to the `row_number() OVER (PARTITION BY query_id
    * ORDER BY cos DESC, vec_id)` window form it replaced (unique ids ⇒
    * both are deterministic under ties), but the aggregation runs
    * PARTIAL before the shuffle: each map task ships ≤k rows per
    * query, so the Exchange carries O(queries × k) rows where the
    * window form moved (and sorted) the ENTIRE corpus×queries scored
    * set through one partition per query. Shared by the brute-force,
    * SQ8-rerank, and IVF search paths so none of them can regress to
    * a corpus-sized window partition.
    */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(k))
    scored
      .groupBy(col("query_id"))
      .agg(topk(col("cos"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("t.id").as("neighbor_id"), col("t.score").as("cos"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Q-SIM: exact cosine top-k for a fixed query set (vec_id < 10),
    * k=5, self-match excluded. Rank ties broken by neighbor id.
    */
  def knnBruteForce(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = emb(s, dir)
    val q = e.select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
      col("nrm").as("q_nrm")).filter(col("query_id") < 10)
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.Rounding.portableRound4(
        VectorFunctions.arrayDot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining for contrastive training: for each query,
    * the `k` most-similar vectors whose LABEL DIFFERS — the "close but
    * wrong class" examples a retrieval/embedding trainer pairs with
    * its positives. Same scoring contract as [[knnBruteForce]]
    * (rounded cosine, id tiebreak) with the label-exclusion predicate
    * pushed into the join condition, so excluded rows never leave the
    * scan.
    *
    * Scale shape: one corpus scan against broadcast queries, like
    * brute-force kNN — but the per-query top-k uses the bounded-heap
    * [[graft.functions.TopKAggregator]] instead of a
    * `row_number() OVER (PARTITION BY query_id)` window: each window
    * partition would be CORPUS-sized (one per query), while the
    * aggregator ships ≤k rows per query per map task through the
    * Exchange. Same deterministic answer (score desc, id asc),
    * O(queries × k) shuffled rows instead of O(queries × corpus).
    */
  def hardNegatives(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = emb(s, dir)
    val q = e.select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
      col("nrm").as("q_nrm"), col("label").as("q_label"))
      .filter(col("query_id") < 10)
    val topk = udaf(new graft.functions.TopKAggregator(k))
    e.join(broadcast(q),
        col("vec_id") =!= col("query_id") && col("label") =!= col("q_label"))
      .withColumn("cos", graft.functions.Rounding.portableRound4(
        VectorFunctions.arrayDot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))))
      .groupBy(col("query_id"), col("q_label"))
      .agg(topk(col("cos"), col("vec_id")).as("top"))
      .select(col("query_id"), col("q_label"),
        posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("q_label"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("t.id").as("neighbor_id"), col("t.score").as("cos"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Per-label embedding centroids with cohesion statistics — the
    * cluster-quality report an embedding-space evaluation runs: for
    * each label, the element-wise mean vector, its norm, and the
    * distribution (mean/min/max) of member-to-centroid cosines. Low
    * cohesion or a short centroid (members cancelling) flags a label
    * whose examples don't share a direction — a labeling or embedding
    * problem surfaced as data.
    *
    * Scale shape: the centroid pass is the Lloyd-recenter shape —
    * posexplode to (label, dim) partial sums, map-side combined to
    * ≤ labels × dims rows per task, never vector pairs — and the
    * cohesion pass joins the tiny centroid table back by broadcast
    * (one corpus scan each). Per-member cosines are rounded BEFORE
    * aggregation so min/max are exact cross-engine; the mean re-rounds
    * the 4-decimal sum.
    */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cent = e
      .select(col("label"), posexplode(col("emb")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg((sum(col("x")) / count(lit(1))).as("m"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("m")))),
        el => el.getField("m")).as("cm"))
      .withColumn("c_nrm", VectorFunctions.l2Norm(col("cm")))
    val scored = e.join(broadcast(cent), Seq("label"))
      .withColumn("cos", graft.functions.Rounding.portableRound4(
        VectorFunctions.arrayDot(col("emb"), col("cm")) / (col("nrm") * col("c_nrm"))))
    scored.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        graft.functions.Rounding.portableRound4(max(col("c_nrm"))).as("centroid_norm"),
        graft.functions.Rounding.portableRound4(
          sum(col("cos")) / count(lit(1))).as("avg_cos"),
        min(col("cos")).as("min_cos"),
        max(col("cos")).as("max_cos"))
      .orderBy(col("label"))
  }

  /** Scalar-quantized (int8) kNN with exact rerank — the FAISS-SQ8
    * memory/IO play as a DataFrame pipeline. The corpus is quantized to
    * one byte per dimension (per-vector symmetric scale
    * `max|x|/127`), the full corpus pass scores QUANTIZED vectors
    * against full-precision queries (asymmetric SQ — the standard
    * contract: the database is compressed, queries are not), the top
    * `rerank` candidates per query are then re-scored EXACTLY from the
    * full-precision table and the final top-k is exact arithmetic
    * end-to-end.
    *
    * Why this matters at 100 TB: the scan that dominates ANN cost reads
    * the int8 copy — 4× fewer bytes than float32 (16× vs the doubles a
    * naive pipeline carries) — while the full-precision table is only
    * touched for `queries × rerank` rows, via a broadcast semi-join, so
    * result QUALITY is not a function of quantization error. With
    * `rerank ≫ k` the quantized ordering only has to get the true
    * top-k somewhere into the top-`rerank` — int8 error over ≤64 dims
    * is orders of magnitude below typical neighbor gaps, which is why
    * the output equals [[knnBruteForce]] bit-for-bit and shares its
    * DuckDB oracle (equality also spec-asserted; a rare tie-flip would
    * surface as a hash mismatch, not silent drift).
    *
    * All-zero vectors quantize to zeros with scale 0; the approx score
    * is forced to 0 (they have no direction) and exact rerank never
    * sees them above real candidates.
    */
  /** Per-vector symmetric int8 quantization of an `array<double>`
    * column: (scale, qemb) with `scale = max|x|/127` and
    * `qemb = round(x/scale)` (all-zero vectors quantize to zeros with
    * scale 0). Shared by [[knnSq8]] and the persisted-index sidecar
    * ([[IvfIndex.ensureSq8]]) so the two quantized paths can never
    * drift on the encoding. */
  private[graft] def sq8Cols(embCol: Column): (Column, Column) = {
    val scale = array_max(transform(embCol, x => abs(x))) / lit(127.0)
    val qemb = transform(embCol,
      x => when(embCol.isNotNull && scale > 0, round(x / scale))
        .otherwise(lit(0.0)).cast("tinyint"))
    (scale, qemb)
  }

  /** Asymmetric SQ8 cosine: quantized database vector (qemb, scale,
    * nrm) against a full-precision query (q_emb, q_nrm). */
  private[graft] def sq8Cos(qemb: Column, scale: Column, nrm: Column,
      qEmb: Column, qNrm: Column): Column =
    when(scale > 0,
      VectorFunctions.arrayDot(transform(qemb, _.cast("double")), qEmb) *
        scale / (nrm * qNrm))
      .otherwise(lit(0.0))

  def knnSq8(s: SparkSession, dir: String, k: Int = 5, rerank: Int = 50): DataFrame = {
    val e = emb(s, dir)
    val (scale, qembCol) = sq8Cols(col("emb"))
    val qz = e.select(col("vec_id"), col("nrm"), scale.as("scale"),
      qembCol.as("qemb"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    // pass 1: quantized corpus × broadcast queries, approx cosine
    val approx = qz.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("acos", sq8Cos(col("qemb"), col("scale"), col("nrm"),
        col("q_emb"), col("q_nrm")))
    // the candidate pool is a bounded-heap top-`rerank` per query over
    // the quantized scores (≤rerank rows/query/task reach the shuffle
    // — the corpus-sized scored set never funnels into per-query
    // window partitions). The pool is bounded driver state
    // (≤ queries × rerank id pairs) and collects ONCE — the
    // [[IvfIndex.knnSq8RerankAt]] shape, r20: as a broadcast-exchange
    // build it was a separate stage anyway (same quantized corpus scan
    // either way), but collecting lets the pooled ids push into the
    // exact pass as a literal In filter, so parquet row-group stats
    // skip everything outside the pool before a full-precision byte is
    // read (guide §6) instead of re-scanning the whole table into the
    // join.
    val poolTopk = udaf(new graft.functions.TopKAggregator(rerank))
    val poolRows = approx
      .groupBy(col("query_id"))
      .agg(poolTopk(col("acos"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toIndexedSeq
    val poolIds = poolRows.map(_._2).distinct.sorted
    import s.implicits._
    val pool = poolRows.toDF("query_id", "vec_id")
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("q_emb"), col("q_nrm"))
    // pass 2: exact re-score of the tiny pool from the full-precision
    // table, row-group-pruned by the pooled ids
    val rescored = e.filter(col("vec_id").isin(poolIds: _*))
      .join(broadcast(pool), Seq("vec_id"))
      .withColumn("cos", graft.functions.Rounding.portableRound4(
        VectorFunctions.arrayDot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))))
    topKPerQuery(rescored, k)
  }

  // ------------------------------------------------------------ cells

  /** Deterministic centroid seeds under the √n policy:
    * C = min(⌈√n⌉, maxCells) picks, one expected per ⌈n/C⌉ vectors.
    * √n balances the two costs of an IVF grid — per-vector assignment
    * work O(C) against per-cell candidate volume O(n/C) — and the cap
    * keeps the broadcast table bounded on a 10⁹-vector corpus.
    *
    * Selection is `pmod(xxhash64(vec_id), stride) == 0`, NOT
    * `vec_id % stride == 0`: the strided-modulo form silently assumes
    * DENSE ids. On a corpus with sparse or hashed ids (the realistic
    * case — 64-bit content ids), a stride that happens to divide the
    * id-generation pattern can select far fewer than C seeds, or zero
    * (→ empty centroid set → every `nearest_cell` null). Hashing first
    * makes the pick distribution-robust at identical cost, still fully
    * deterministic, and still a pushdown-friendly narrow filter. The
    * driver-side actions are a parquet-metadata `count()` to size the
    * grid and the [[collectCells]] model-state collect, both O(C)-bounded.
    */
  private[graft] def cellSeeds(e: DataFrame, maxCells: Int = 4096): DataFrame = {
    val n = e.count()
    val c = math.max(1L, math.min(maxCells.toLong, math.ceil(math.sqrt(n.toDouble)).toLong))
    val stride = math.max(1L, math.round(n.toDouble / c.toDouble))
    e.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
      .select(col("vec_id").as("cent_id"), col("emb").as("cent_emb"),
        col("nrm").as("cent_nrm"))
  }

  /** The centroid set as driver-side parallel arrays, cent_id-sorted
    * so [[graft.functions.NearestCell]]'s lowest-index tie-break is a
    * lowest-cent_id tie-break. Bounded by the `maxCells` policy (≈2 MB
    * at the 4096 cap), so collecting it is the MLlib-KMeans model-state
    * pattern, not a data collect.
    */
  private[graft] final case class CellIndex(
      ids: Seq[Long], embs: Seq[Seq[Double]], nrms: Seq[Double])

  private[graft] def collectCells(cents: DataFrame): CellIndex = {
    val rows = cents.select(col("cent_id"), col("cent_emb"), col("cent_nrm"))
      .orderBy(col("cent_id")).collect()
    CellIndex(
      rows.map(_.getLong(0)).toSeq,
      rows.map(_.getSeq[Double](1)).toSeq,
      rows.map(_.getDouble(2)).toSeq)
  }

  /** The centroid model of a PUBLISHED index artifact, memoized
    * per JVM: the artifact path embeds the corpus fingerprint and the
    * dir is immutable once its done-marker exists ([[ArtifactCache]]),
    * so re-collecting the same ≤4096-row model every query is a pure
    * fixed cost — one Spark job per lookup that repeat ANN queries
    * (every bench invocation, every audit sweep) pay for nothing.
    * Bounded: one entry per (corpus fingerprint × training depth).
    */
  private val artifactCells =
    new java.util.concurrent.ConcurrentHashMap[String, CellIndex]()

  private[graft] def cellsOfArtifact(s: SparkSession, path: String): CellIndex =
    artifactCells.computeIfAbsent(path,
      p => collectCells(Tables.parquet(s, s"$p/centroids")))

  /** Nearest-centroid assignment as a narrow projection: input columns
    * plus `cent_id`. See the class doc for why this shape (no corpus
    * shuffle — no join, window, or reduction at all) beats both the
    * crossJoin+window and the max_by alternatives.
    */
  private[graft] def assignCells(e: DataFrame, cells: CellIndex): DataFrame =
    e.withColumn("cent_id", element_at(typedLit(cells.ids),
      VectorFunctions.nearestCell(
        col("emb"), typedLit(cells.embs), typedLit(cells.nrms)) + lit(1)))

  // ------------------------------------------- two-level assignment

  /** Centroids regrouped for coarse→fine descent: `starts(g)` …
    * `starts(g+1)` delimit group g's slice of the (grouped-order)
    * fine arrays. Empty groups are dropped at build time so the
    * coarse argmax can never land on a memberless slice.
    */
  private[graft] final case class HierIndex(
      coarseEmbs: Seq[Seq[Double]], coarseNrms: Seq[Double], starts: Seq[Int],
      fineIds: Seq[Long], fineEmbs: Seq[Seq[Double]], fineNrms: Seq[Double])

  /** Group the (bounded, driver-side) centroid set into ⌈√C⌉ coarse
    * groups by a small driver-side k-means in cosine space —
    * deterministic stride seeds, `iters` Lloyd steps over ≤ maxCells
    * points, pure Scala (the model is model-state-sized; clustering it
    * on the driver is the same discipline as collecting it).
    *
    * This is the IMI-style answer to the flat assignment's O(n·C·d)
    * cost at the 4096-cell cap: descent evaluates G coarse dots plus
    * one group's fines — O(n·2√C·d), a 32× flop cut at C = 4096 —
    * while cell SEMANTICS stay "one of the same C fine cells", so the
    * downstream index layout, probe ranking, and search are unchanged.
    */
  private[graft] def hierIndex(cells: CellIndex, groups: Int = 0,
      iters: Int = 3): HierIndex = {
    val c = cells.ids.size
    val g = math.max(1, if (groups > 0) groups
      else math.ceil(math.sqrt(c.toDouble)).toInt)
    // stride seeds over cent_id order, then Lloyd: assign each centroid
    // to its max-cosine group, recenter as the member mean
    var gEmbs = (0 until g).map(i => cells.embs(i * c / g))
    var gNrms = gEmbs.map(e => math.sqrt(dot(e, e)))
    var assign: Seq[Int] = Seq.empty
    for (_ <- 0 until iters) {
      assign = cells.embs.indices.map { i =>
        var best = Double.NegativeInfinity; var bi = 0
        var j = 0
        while (j < gEmbs.size) {
          val s = dot(cells.embs(i), gEmbs(j)) / gNrms(j)
          if (s > best) { best = s; bi = j }
          j += 1
        }
        bi
      }
      val dims = cells.embs.head.size
      val next = (0 until g).map { j =>
        val members = cells.embs.indices.filter(assign(_) == j)
        if (members.isEmpty) gEmbs(j)
        else (0 until dims).map(d => members.map(cells.embs(_)(d)).sum / members.size)
      }
      gEmbs = next
      gNrms = gEmbs.map(e => math.sqrt(dot(e, e)))
    }
    // grouped order: groups ascending, cent_id ascending within (both
    // deterministic); memberless groups dropped
    val byGroup = (0 until g).map(j => cells.ids.indices.filter(assign(_) == j))
      .filter(_.nonEmpty)
    val flat = byGroup.flatten
    val starts = byGroup.scanLeft(0)(_ + _.size)
    HierIndex(
      byGroup.map(m => gEmbs(assign(m.head))),
      byGroup.map(m => gNrms(assign(m.head))),
      starts,
      flat.map(cells.ids), flat.map(cells.embs), flat.map(cells.nrms))
  }

  /** [[assignCells]] through the multi-probe coarse→fine descent
    * ([[graft.functions.NearestCellHier]]): same narrow no-shuffle
    * projection shape, O((1+probes)·√C·d) per row instead of O(C·d).
    * `probes = 4` coarse groups by default: the single-group greedy
    * descent measured only 0.86 agreement with the flat argmax on a
    * clustered corpus (boundary vectors' nearest fine cell often sits
    * in the runner-up group); probing 4 groups recovers the boundary
    * cases while keeping the 4096-cell assignment ~6× cheaper than
    * flat. Agreement and end-to-end recall are MEASURED (ScaleBench
    * `assignment_200k` section, Round11Spec floor), not assumed.
    */
  private[graft] def assignCellsHier(e: DataFrame, h: HierIndex,
      probes: Int = 4): DataFrame =
    e.withColumn("cent_id", element_at(typedLit(h.fineIds),
      VectorFunctions.nearestCellHier(col("emb"),
        typedLit(h.coarseEmbs), typedLit(h.coarseNrms), typedLit(h.starts),
        typedLit(h.fineEmbs), typedLit(h.fineNrms), lit(probes)) + lit(1)))

  /** IVF search with the two-level assignment on the CORPUS side (the
    * O(n·C·d) cost the flat path pays); the tiny query-side probe
    * ranking stays flat-exact over the same C cells.
    */
  def knnIvfHier(s: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 16, maxCells: Int = 4096): DataFrame = {
    val e = emb(s, dir)
    val seeds = cellSeeds(e, maxCells)
    val cells = collectCells(kmeansCentroids(e, seeds, 1))
    val h = hierIndex(cells)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    searchCells(assignCellsHier(e, h), probeCells(q, cells, nprobe), k)
  }

  /** Lloyd-refined centroids: start from [[cellSeeds]] and run `iters`
    * k-means steps entirely as DataFrame ops — assign by max cosine
    * (narrow [[assignCells]] projection), recompute each centroid as
    * the element-wise mean of its members (posexplode → avg per
    * (cell, dim) → reassemble ordered). The only shuffle per iteration
    * moves (cell, dim) partial sums — map-side combined to ≤ C×dims
    * rows per input partition, never vector pairs. Deterministic given
    * deterministic seeds.
    *
    * The corpus is PINNED for the duration of training (the MLlib
    * KMeans cache discipline): every iteration's assignment + recenter
    * pass and the seed collect scan `e`, and without pinning each pass
    * re-reads and re-norms the parquet source — iters+1 redundant
    * corpus reads that at 100 TB turn training into the dominant cost
    * of an ad-hoc IVF query (the r10 q_knn_ivf_kmeans regression).
    * Each iteration's centroid set is collected eagerly (bounded model
    * state, ≤ maxCells rows), so the returned frame is a small literal
    * — callers' own [[collectCells]] on it is free, and the pin can be
    * released HERE instead of leaking into lazy caller plans.
    */
  def kmeansCentroids(e: DataFrame, seeds: DataFrame, iters: Int = 2): DataFrame = {
    val s = e.sparkSession
    val pinned = e.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cells = collectCells(seeds)
      for (_ <- 0 until iters)
        cells = collectCells(lloydUpdate(assignCells(pinned, cells)))
      cellsToFrame(s, cells)
    } finally pinned.unpersist()
  }

  /** The bounded centroid model re-entered as a (tiny) local frame —
    * the inverse of [[collectCells]]. */
  private[graft] def cellsToFrame(s: SparkSession, cells: CellIndex): DataFrame = {
    import s.implicits._
    cells.ids.indices
      .map(i => (cells.ids(i), cells.embs(i), cells.nrms(i)))
      .toDF("cent_id", "cent_emb", "cent_nrm")
  }

  /** One Lloyd recenter over an already cell-assigned corpus: the mean
    * member vector per cell. Exposed separately so callers holding a
    * (persisted) assignment — [[annRecall]]'s shared grid — can take
    * the next k-means step without re-running the assignment pass.
    */
  private[graft] def lloydUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cent_id"), posexplode(col("emb")).as(Seq("dim", "v")))
      .groupBy(col("cent_id"), col("dim"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col("cent_id"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
      .select(col("cent_id"), transform(col("pairs"), _.getField("m")).as("cent_emb"))
      .withColumn("cent_nrm", VectorFunctions.l2Norm(col("cent_emb")))

  /** Coverage-reseeded centroids: Lloyd alone can NEVER place a
    * centroid inside a cluster the hash seeds missed — it only moves
    * existing centroids within their basins, so with C ≈ k random
    * seeds over k clusters, ~k·e^(−C/k) clusters stay seedless forever
    * and their members balloon some other cell's radius (measured on
    * the 200k-vector ScaleBench corpus: keep rate stuck at 2.5% from
    * 3 to 8 Lloyd iterations, 10× worse than covered seeding).
    *
    * Each round here fixes coverage directly, k-means++ style:
    *  1. one narrow assignment pass + a broadcast join ranks members
    *     by their ANGLE to their centroid;
    *  2. each CELL proposes its top-`perCell` farthest members beyond
    *     `maxAngle` (deterministic order: angle desc, vec_id asc;
    *     global cap `batch`) as centroid candidates — per-cell rather
    *     than global top-k, because the globally-farthest members all
    *     sit in the single worst region and a round would fix only it,
    *     while per-cell proposals repair many regions per round —
    *     bounded model state either way;
    *  3. candidates are greedily thinned driver-side (one within
    *     `maxAngle` of an accepted candidate is redundant — ≤ batch²
    *     dot products on the driver);
    *  4. survivors join the centroid set (cent_id = vec_id; ids
    *     already present are skipped) and one Lloyd step recenters.
    * Rounds stop early when no member sits beyond `maxAngle` (coverage
    * achieved), when the first round's MEDIAN member angle already
    * exceeds `maxAngle` (an uncoverable corpus — uniform-random
    * vectors have no tight structure for reseeding to find, so the
    * gate returns the Lloyd-refined seeds untouched instead of burning
    * passes and centroid budget; one approx-percentile agg pays for
    * it), or when the budget is spent. The budget is
    * min(maxCells, 4 × initial C): on a CLUSTERED corpus coverage
    * converges well under it (497 vs 401 initial at the 200k probe),
    * while on adversarial data — uniform random vectors, where every
    * member is beyond any reasonable `maxAngle` of everything — an
    * uncapped loop would balloon C to maxCells and quadruple every
    * downstream assignment's O(n·C·d); the 4× cap bounds the repair at
    * a small constant over the √n policy. Every corpus-sized step is a
    * narrow projection or broadcast join; everything collected is
    * ≤ batch rows or the bounded centroid set.
    */
  def coverageCentroids(e: DataFrame, seeds: DataFrame, maxAngle: Double,
      maxCells: Int = 4096, rounds: Int = 3, batch: Int = 1024,
      perCell: Int = 4): DataFrame = {
    import graft.functions.VectorFunctions.arrayDot
    def angle(cos: Column): Column =
      acos(least(lit(1.0), greatest(lit(-1.0), cos)))
    def ang(a: Seq[Double], na: Double, b: Seq[Double], nb: Double): Double =
      math.acos(math.max(-1.0, math.min(1.0, dot(a, b) / (na * nb))))

    var cents = kmeansCentroids(e, seeds, 1)
    var budgetLeft = true
    var cap = -1
    for (round <- 0 until rounds if budgetLeft) {
      val cells = collectCells(cents)
      if (cap < 0) cap = math.min(maxCells, 4 * math.max(1, cells.ids.size))
      if (cells.ids.size >= cap) budgetLeft = false
      else {
        val have = cells.ids.toSet
        val wCell = Window.partitionBy(col("cent_id"))
          .orderBy(col("ang").desc, col("vec_id").asc)
        val withAng = assignCells(e, cells)
          .join(broadcast(cents), Seq("cent_id"))
          .withColumn("ang", angle(
            arrayDot(col("emb"), col("cent_emb")) / (col("nrm") * col("cent_nrm"))))
        if (round == 0) {
          // coverability gate: when even the 25th-PERCENTILE member
          // sits beyond maxAngle — under a quarter of the corpus is
          // tightly covered by anything — there is no cluster
          // structure at this angle (uniform-random vectors, or a
          // threshold far inside the typical pairwise angle), and
          // reseeding would churn the whole budget without shrinking
          // any radius below maxAngle while every added centroid
          // inflates downstream O(n·C·d) passes. One cheap agg
          // decides. The quantile is deliberately LOW: on a clustered
          // corpus the covered members' angles are at the noise level
          // (q25 ≈ 0.11 on the ScaleBench corpora vs maxAngle 0.23),
          // while partially-seeded coverage can push the MEDIAN past
          // maxAngle and a median gate would refuse to repair exactly
          // the corpora that need repairing; random corpora sit at
          // q25 ≈ 1.2 — far above any sane maxAngle — either way.
          val q25 = withAng.agg(
            percentile_approx(col("ang"), lit(0.25), lit(1000))).first().getDouble(0)
          if (q25 > maxAngle) return cents
        }
        val cand = withAng
          .filter(col("ang") > maxAngle && !col("vec_id").isInCollection(have))
          .withColumn("cand_rnk", row_number().over(wCell))
          .filter(col("cand_rnk") <= perCell)
          .orderBy(col("ang").desc, col("vec_id").asc)
          .limit(math.min(batch, cap - cells.ids.size))
          .select(col("vec_id"), col("emb"), col("nrm"))
          .collect()
        if (cand.isEmpty) budgetLeft = false
        else {
          val accepted = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Seq[Double], Double)]
          cand.foreach { r =>
            val (id, em, nr) = (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))
            if (accepted.forall { case (_, e2, n2) => ang(em, nr, e2, n2) > maxAngle })
              accepted += ((id, em, nr))
          }
          val spark = e.sparkSession
          import spark.implicits._
          val extra = accepted.toSeq.toDF("cent_id", "cent_emb", "cent_nrm")
          cents = kmeansCentroids(e, cents.unionByName(extra), 1)
        }
      }
    }
    cents
  }

  /** IVF-style ANN: √n-policy centroids, Lloyd-refined (default one
    * iteration — hash-selected seeds are id-robust but random, so they
    * under-cover clustered corpora until one k-means step recenters
    * them; this is the standard IVF training pass, and `kmeansIters=0`
    * remains available for the raw-seed degenerate case), each corpus
    * vector assigned to its nearest centroid by the narrow
    * [[assignCells]] projection, queries probe the `nprobe` nearest
    * cells. Returns same schema as brute force; recall vs the exact
    * result is asserted in DedupSimilaritySpec, and [[annRecall]]
    * publishes the full recall-vs-nprobe curve as data.
    *
    * `nprobe` is THE recall/cost knob and defaults to 16: on the
    * weakly clustered testdata (nearest-neighbor cosine ≈ 0.4 against
    * a mean pairwise of 0) the measured curve (RECALL.json, with
    * n_candidates as the cost axis) is 0.14/0.20/0.42/0.60/0.80/0.96/
    * 1.00 recall at nprobe 1/2/4/8/16/32/64 — true neighbors spread
    * across cells, so a narrow probe silently drops a large share of
    * them, and a default should not hand back 40% missing neighbors.
    * The ≥0.9 path is measured, not hypothesized: nprobe=32 reaches
    * 0.96 at almost exactly 2× the default's scored candidates
    * (14.5k vs 7.3k at sf0.1) — cost stays linear in the knob all the
    * way up, so a recall-critical deployment just widens. The cost of
    * the wider default is linear and modest: candidate volume ∝
    * n·nprobe/C, so 16 cells at the 4096-cell cap reads 0.4% of a
    * 10⁹-vector corpus per query. Strongly clustered corpora (where
    * each query's neighbors concentrate in one cell) can drop to 4–8;
    * tune with [[recommendNprobe]] (target-recall driven, sweeps to
    * 64) or read the curve from [[annRecall]].
    *
    * The probe step scores queries×C by exploding the literal centroid
    * array per query row (a generator, not a join — tiny: 10×C); the
    * corpus side never sees a non-equi join: cell search is an
    * equi-join on `cent_id` (skewed cells are AQE's skew-join case,
    * and the per-query top-k window runs over the probed candidates
    * only).
    */
  def knnIvf(s: SparkSession, dir: String, k: Int = 5, nprobe: Int = 16,
      kmeansIters: Int = 1, maxCells: Int = 4096): DataFrame = {
    val (assigned, cells) = ivfParts(s, dir, kmeansIters, maxCells)
    val q = emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    searchCells(assigned, probeCells(q, cells, nprobe), k)
  }

  /** Train the IVF grid once and return (cell-assigned corpus, driver
    * centroid model). Centroid training (the count + collect + Lloyd
    * aggregations) is the expensive part of an ad-hoc IVF query;
    * callers evaluating several probe widths over the SAME grid —
    * [[annRecall]]'s sweep — share this instead of re-training per
    * width.
    */
  private[graft] def ivfParts(s: SparkSession, dir: String,
      kmeansIters: Int = 1, maxCells: Int = 4096): (DataFrame, CellIndex) = {
    val e = emb(s, dir)
    val seeds = cellSeeds(e, maxCells)
    val cents = if (kmeansIters > 0) kmeansCentroids(e, seeds, kmeansIters) else seeds
    val cells = collectCells(cents)
    (assignCells(e, cells), cells)
  }

  /** Queries probe their `nprobe` nearest cells: the centroid set is
    * already driver-side model state, so fan each query out over a
    * literal (cent_id, cent_emb, cent_nrm) array — a generator, not a
    * join — then keep the nprobe best cells per query with a window
    * over the (tiny) queries×C set. Input queries carry
    * (query_id, q_emb, q_nrm); output adds one row per probed cell.
    */
  private[graft] def probeCells(q: DataFrame, cells: CellIndex,
      nprobe: Int): DataFrame =
    probeCellsRanked(q, cells, nprobe).drop("p_rnk")

  /** [[probeCells]] keeping the per-query cell rank: a probe set at
    * width W restricted to `p_rnk <= w` IS the probe set at any
    * narrower w, so one widest-probe candidate join can serve a whole
    * nprobe sweep ([[annRecall]]).
    */
  private[graft] def probeCellsRanked(q: DataFrame, cells: CellIndex,
      nprobe: Int): DataFrame = {
    val cellArr = typedLit(cells.ids.indices.map(i =>
      (cells.ids(i), cells.embs(i), cells.nrms(i))))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("q_cos").desc, col("cent_id").asc)
    q.select(col("query_id"), col("q_emb"), col("q_nrm"), explode(cellArr).as("c"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("c._1").as("cent_id"),
        probeScore(VectorFunctions.arrayDot(col("q_emb"), col("c._2")),
          col("q_nrm") * col("c._3")).as("q_cos"))
      .withColumn("p_rnk", row_number().over(wProbe))
      .filter(col("p_rnk") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cent_id"), col("p_rnk"))
  }

  /** A probe's cosine score: `dot / den`, NaN on a zero divisor (a
    * zero-norm query or centroid). ANSI division would raise
    * DIVIDE_BY_ZERO there; NaN is what the driver ranker scores, so
    * both rank the cell first. */
  private def probeScore(dot: Column, den: Column): Column =
    when(den === 0.0, lit(Double.NaN)).otherwise(dot / den)

  /** THE driver-side dot product: ascending-index accumulation from
    * 0.0, the order `array_dot` sums in, so a driver score and the same
    * score computed in a Spark plan are bit-identical. */
  private[graft] def dot(a: Seq[Double], b: Seq[Double]): Double = {
    var t = 0.0; var i = 0
    while (i < a.length) { t += a(i) * b(i); i += 1 }
    t
  }

  /** THE driver-side probe ranking: the `nprobe` cells nearest one query
    * (embedding `qe`, norm `qn`), in the order [[probeCellsRanked]]'s
    * window ranks them, so a driver-ranked probe set equals the Spark
    * one. The query panel is bounded by contract and the centroid model
    * is already driver state, so this is queries × C dots of plain
    * Scala instead of a window job plus a probed-id collect. Spark's
    * desc sort semantics, not Scala's: `java.lang.Double` total order
    * places NaN greatest (so FIRST under desc), and +0.0 added to each
    * score merges -0.0 with 0.0 the way Spark's sort normalizes them,
    * leaving the tie to cent_id ascending. A zero divisor (zero-norm
    * query or centroid) scores NaN in both ([[probeScore]]). */
  private[graft] def rankProbes(qe: Seq[Double], qn: Double, cells: CellIndex,
      nprobe: Int): Seq[Long] =
    cells.ids.indices
      .map { i =>
        val den = qn * cells.nrms(i)
        (cells.ids(i), if (den == 0.0) Double.NaN else dot(qe, cells.embs(i)) / den + 0.0)
      }
      .sortWith { case ((ca, sa), (cb, sb)) =>
        val c = java.lang.Double.compare(sb, sa)
        c < 0 || (c == 0 && ca < cb)
      }
      .take(nprobe).map(_._1)

  /** Driver-visible ANN quality: recall of every approximate kNN
    * variant against the exact [[knnBruteForce]] result on the same
    * query set, as DATA — one row per variant with matched/expected
    * pair counts. The ScalaTest recall floors assert this too, but a
    * floor inside a spec isn't inspectable per-round; this query makes
    * the number part of the artifact stream (rows-only: the values
    * depend on engine-internal centroid seeding, so no SQL oracle can
    * reproduce them).
    */
  def annRecall(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // the exact ground truth is corpus-pure (deterministic function of
    // the embeddings table + the fixed query policy), so it is a
    // build-once /tmp artifact like the near-dup and IVF indexes —
    // re-deriving a full-corpus brute-force pass per bench invocation
    // was the single most expensive entry in BENCH_r10. The tiny
    // (queries × k) result is what's persisted, not any corpus state.
    // (Its read is overlapped with the measured searches below.)
    // One trained grid, swept across probe widths: the recall/cost knob
    // as DATA. BOTH grids (1- and 2-iteration Lloyd) come from the
    // build-once persisted index ([[IvfIndex.ensureIndex]]) — training
    // is paid per index generation, the corpus side of the sweep is a
    // PARTITION-PRUNED read of just the probed cells, and the whole
    // sweep runs off ONE widest-probe candidate join — a width-W probe
    // set restricted to p_rnk <= w is exactly the width-w probe set, so
    // narrower widths are filters over the same candidates.
    val path1 = IvfIndex.ensureIndex(s, dir)
    val cells = cellsOfArtifact(s, path1)
    // queries collected ONCE (the fixed vec_id < 10 set — 10 rows):
    // probe ranking against the driver-resident centroid model is pure
    // Scala (10 × C dots), so neither the probe window job nor the
    // probed-id distinct-collect job of the r10 shape exists anymore —
    // identical probe sets by construction ([[rankProbes]]).
    val qRows = emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("emb"), col("nrm"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    def rankedProbes(cs: CellIndex, np: Int): Seq[(Long, Seq[Double], Double, Long, Int)] =
      qRows.flatMap { case (qid, qe, qn) =>
        rankProbes(qe, qn, cs, np).zipWithIndex
          .map { case (cid, p) => (qid, qe, qn, cid, p + 1) }
      }
    // 32/64 added in r14: the curve must SHOW a ≥0.9 recall point with
    // its measured cost, not stop at the 0.80 default — the wider
    // widths reuse the same one-candidate-join sweep, so the extra
    // report cost is the extra candidates themselves
    val widths = Seq(1, 2, 4, 8, 16, 32, 64)
    // cost axis of the curve: rows the probe must score at width w =
    // Σ sizes of the probed cells (includes each query's self row —
    // a fixed ≤|queries| offset, not worth a second counting job)
    def cellSizesOf(path: String): Map[Long, Long] =
      Tables.parquet(s, s"$path/assigned")
        .groupBy(col("cent_id")).agg(count(lit(1)).as("cn")).collect()
        .map(r => (r.getAs[Number](0).longValue(), r.getLong(1))).toMap
    def probeCost(p: Seq[(Long, Seq[Double], Double, Long, Int)], np: Int,
        sizes: Map[Long, Long]): Long =
      p.filter(_._5 <= np).map(pr => sizes.getOrElse(pr._4, 0L)).sum
    import s.implicits._
    val probes1 = rankedProbes(cells, widths.max)
    val probesDf = probes1.toDF("query_id", "q_emb", "q_nrm", "cent_id", "p_rnk")
    val cand = Tables.parquet(s, s"$path1/assigned")
      .filter(col("cent_id").isin(probes1.map(_._4).distinct.sorted: _*))
      .join(broadcast(probesDf), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.Rounding.portableRound4(
        VectorFunctions.arrayDot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))))
    // the WHOLE width sweep in ONE windowed job: explode each candidate
    // over the widths it belongs to (p_rnk <= w — probe sets nest),
    // rank within (query, w), keep top-k, collect the tiny pair set.
    // r10 ran a join+aggregate job PER variant; the fixed cost of those
    // 8 jobs — not data — made q_ann_recall the most expensive bench
    // entry. Match counting over ≤ widths × queries × k collected pairs
    // is driver arithmetic.
    def topAllJob() = cand
      .select(col("query_id"), col("vec_id"), col("cos"), col("p_rnk"),
        explode(typedLit(widths)).as("w"))
      .filter(col("p_rnk") <= col("w"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"), col("w"))
          .orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rnk") <= k)
      .select(col("w"), col("query_id"), col("vec_id"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
    // the two persisted-index variants stay MEASURED searches through
    // their artifacts (one job each: the probe model is driver state,
    // the scan is partition-pruned, top-k is the bounded-heap agg);
    // they return raw (pairs, cost) so the recall arithmetic can run
    // on the main thread once the ground truth's future resolves
    def searchPairs(path: String, sizes: Map[Long, Long],
        cs0: CellIndex = null): (Seq[(Long, Long)], Long) = {
      val cs = Option(cs0).getOrElse(cellsOfArtifact(s, path))
      val p = rankedProbes(cs, 16)
      val pairs = searchCells(
        Tables.parquet(s, s"$path/assigned")
          .filter(col("cent_id").isin(p.map(_._4).distinct.sorted: _*)),
        broadcast(p.toDF("query_id", "q_emb", "q_nrm", "cent_id", "p_rnk")
          .drop("p_rnk")), k)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      (pairs, probeCost(p, 16, sizes))
    }
    // OVERLAPPED MEASUREMENT JOBS (guide §2.6): the five measured
    // searches — the widest-probe sweep join, the two artifact-variant
    // searches, the SQ8 rerank, and the cell-size aggregate — are
    // INDEPENDENT Spark jobs over tiny data whose wall clock is fixed
    // scheduling cost, not compute; the driver submitted them
    // sequentially, so the battery paid the sum. A 4-thread pool lets
    // the scheduler back-fill (actions are only sequential because the
    // driver calls them sequentially); each row is assembled
    // deterministically afterward, so the output is order-identical.
    // The SQ8 row reads its fp_reads local property ON ITS OWN THREAD
    // (setLocalProperty is thread-local — the read must share the
    // thread that ran the job).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val resultRows = try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val fBrute = Future(bruteGroundTruth(s, dir, k).toSet)
      val fTop = Future(topAllJob())
      val fSizes1 = Future(cellSizesOf(path1))
      val fKmeans = Future(
        IvfIndex.ensureIndex(s, dir, kmeansIters = 2)).map(p =>
        searchPairs(p, cellSizesOf(p)))
      val fIndexed = fSizes1.map(sz => searchPairs(path1, sz, cells))
      // the CHEAP ≥0.9 point (r15): the same wide probe scored from the
      // int8 sidecar with an exact rerank — a MEASURED search through
      // both artifacts; its n_candidates is the full-precision rows the
      // exact pass actually read (the pooled distinct ids), where the
      // plain nprobe32 row's is its whole probed-cell volume
      val fSq8 = Future {
        val pairs = IvfIndex.knnSq8Rerank(s, dir, k)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val fpReads = Option(
          s.sparkContext.getLocalProperty("graft.ivf.sq8.fp_reads"))
          .map(_.toLong).getOrElse(-1L)
        (pairs, fpReads)
      }
      val bruteSet = Await.result(fBrute, Duration.Inf)
      def counts(pairs: Seq[(Long, Long)]): (Long, Long) =
        (bruteSet.size.toLong, bruteSet.intersect(pairs.toSet).size.toLong)
      def fromCounts(name: String, c: (Long, Long), cost: Long) =
        (name, c._1, c._2,
          math.floor(c._2.toDouble / c._1 * 10000 + 0.5) / 10000, cost)
      def rowOf(name: String, pc: (Seq[(Long, Long)], Long)) =
        fromCounts(name, counts(pc._1), pc._2)
      val topAll = Await.result(fTop, Duration.Inf)
      val sizes1 = Await.result(fSizes1, Duration.Inf)
      val sweep = widths.map(w => fromCounts(f"knn_ivf_nprobe$w%02d",
        counts(topAll.filter(_._1 == w).map(_._2).toSeq),
        probeCost(probes1, w, sizes1)))
      // knn_ivf IS the width-16 sweep point (same grid, same probe
      // policy — previously recomputed as an identical separate job)
      val dflt = fromCounts("knn_ivf",
        counts(topAll.filter(_._1 == 16).map(_._2).toSeq),
        probeCost(probes1, 16, sizes1))
      (Seq(dflt, rowOf("knn_ivf_sq8w32", Await.result(fSq8, Duration.Inf)),
        rowOf("knn_ivf_kmeans", Await.result(fKmeans, Duration.Inf)),
        rowOf("knn_ivf_indexed", Await.result(fIndexed, Duration.Inf))) ++ sweep)
        .sortBy(_._1)
    } finally pool.shutdown()
    resultRows.toDF("variant", "n_expected", "n_matched", "recall", "n_candidates")
  }

  /** Exact top-k (query_id, neighbor_id) pairs for the standard query
    * set, served from a fingerprint-keyed /tmp artifact: the ground
    * truth is a pure function of the corpus, so recall audits
    * ([[annRecall]], [[recommendNprobe]]) share one brute-force pass
    * per corpus generation instead of re-scanning per invocation.
    */
  private val bruteCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Long)]]()

  private[graft] def bruteGroundTruth(s: SparkSession, dir: String,
      k: Int): Seq[(Long, Long)] = {
    val path = ArtifactCache.ensure(
      ArtifactCache.key("brute", dir, "embeddings.parquet", k)) { tmp =>
      knnBruteForce(s, dir, k)
        .select(col("query_id"), col("neighbor_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/pairs")
    }
    // fingerprint-keyed published artifact → immutable; memoize the
    // tiny (queries × k) pair list per JVM like the centroid models
    bruteCache.computeIfAbsent(path, p =>
      Tables.parquet(s, s"$p/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(identity).toSeq)
  }

  /** Measured nprobe auto-selection: train the grid once, compute the
    * exact top-k for the sample query set, and sweep probe widths over
    * ONE widest-probe candidate join (probe sets nest, so width w is a
    * `p_rnk <= w` filter); return the smallest width whose sample
    * recall meets `targetRecall`, or `widths.max` if none does.
    *
    * This ties the knob to the CORPUS, not to a doc comment: on a
    * clustered corpus (neighbors concentrated in few cells) it returns
    * a narrow probe; on a diffuse one it widens until the target
    * holds. Recall is monotone in width by construction, so the first
    * satisfying width is the cheapest.
    *
    * Cost: one exact pass for the sample ground truth plus the
    * candidate join — the offline tuning pass a deployment runs once
    * per corpus/index generation, not per query. Driver traffic is
    * sample × k ids per width (bounded model state).
    */
  def recommendNprobe(s: SparkSession, dir: String, k: Int = 5,
      targetRecall: Double = 0.8,
      widths: Seq[Int] = Seq(1, 2, 4, 8, 16, 32, 64)): Int = {
    require(widths.nonEmpty && widths == widths.sorted, "widths must be ascending")
    val brute = bruteGroundTruth(s, dir, k).toSet
    if (brute.isEmpty) return widths.head
    // grid + ground truth from the build-once artifacts ([[annRecall]]'s
    // discipline): this tuning pass runs once per corpus/index
    // generation, and its corpus side is a partition-pruned cell read
    val path1 = IvfIndex.ensureIndex(s, dir)
    val cells = cellsOfArtifact(s, path1)
    val q = emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val probes = probeCellsRanked(q, cells, widths.max)
    val probedIds = probes.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val cand = Tables.parquet(s, s"$path1/assigned")
      .filter(col("cent_id").isin(probedIds: _*))
      .join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.Rounding.portableRound4(
        VectorFunctions.arrayDot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))))
      .persist()
    try {
      widths.find { w =>
        val got = cand.filter(col("p_rnk") <= w)
          .withColumn("rnk", row_number().over(wRank))
          .filter(col("rnk") <= k)
          .select(col("query_id"), col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        brute.intersect(got).size.toDouble / brute.size >= targetRecall
      }.getOrElse(widths.max)
    } finally cand.unpersist()
  }

  /** A recommended IVF search configuration, everything MEASURED on
    * the corpus: probe width, whether to serve stage 1 from the int8
    * sidecar with an exact rerank, and the full-precision rows a query
    * batch reads under the plan (the IO cost axis of RECALL.json). */
  final case class SearchPlan(nprobe: Int, sq8Rerank: Boolean, rerank: Int,
      fullPrecisionReads: Long, recall: Double)

  /** [[recommendNprobe]] made SQ8-aware: pick the cheapest measured
    * plan meeting `targetRecall`. A target the DEFAULT width already
    * meets keeps the plain full-precision scan (one stage beats two
    * when the scan is narrow anyway). A target needing a wider probe
    * is where the quantized sidecar pays: the wide stage-1 scan reads
    * 1-byte dims and the exact pass reads only the rerank pool, so the
    * plan's full-precision reads stop scaling with width — the r15
    * measurement (RECALL.json knn_ivf_sq8w32) holds nprobe=32's 0.96
    * recall at ~pool-sized full-precision reads instead of the whole
    * probed-cell volume. Falls back to the plain wide scan if the
    * sq8 path misses the target on this corpus (quantization error is
    * corpus-dependent; the recommendation must stay measured).
    */
  def recommendPlan(s: SparkSession, dir: String, k: Int = 5,
      targetRecall: Double = 0.9, defaultWidth: Int = 16,
      rerank: Int = 50): SearchPlan = {
    val brute = bruteGroundTruth(s, dir, k).toSet
    val w = recommendNprobe(s, dir, k, targetRecall)
    val path1 = IvfIndex.ensureIndex(s, dir)
    val cells = cellsOfArtifact(s, path1)
    val sizes = Tables.parquet(s, s"$path1/assigned")
      .groupBy(col("cent_id")).agg(count(lit(1)).as("cn")).collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getLong(1))).toMap
    val q = emb(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    def scanReads(np: Int): Long = probeCells(q, cells, np)
      .select(col("cent_id")).collect()
      .map(r => sizes.getOrElse(r.getLong(0), 0L)).sum
    def recallOf(pairs: Set[(Long, Long)]): Double =
      if (brute.isEmpty) 1.0 else brute.intersect(pairs).size.toDouble / brute.size
    if (w <= defaultWidth)
      return SearchPlan(w, sq8Rerank = false, 0, scanReads(w),
        recallOf(IvfIndex.knn(s, path1, q, k, w)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
    val sq8Pairs = IvfIndex.knnSq8Rerank(s, dir, k, w, rerank)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fpReads = Option(
      s.sparkContext.getLocalProperty("graft.ivf.sq8.fp_reads"))
      .map(_.toLong).getOrElse(-1L)
    val sq8Recall = recallOf(sq8Pairs)
    if (sq8Recall >= targetRecall)
      SearchPlan(w, sq8Rerank = true, rerank, fpReads, sq8Recall)
    else
      SearchPlan(w, sq8Rerank = false, 0, scanReads(w),
        recallOf(IvfIndex.knn(s, path1, q, k, w)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
  }

  /** Observable routing decision of the last [[knnRouted]] call:
    * "nprobe=…,sq8=…,rerank=…,fp_reads=…". */
  val RoutedPlanProperty = "graft.ivf.routed_plan"

  // published SearchPlan artifacts are fingerprint-keyed → immutable;
  // the per-JVM memo skips even the plan-file read on repeat routing
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[String, SearchPlan]()

  /** Count of MEASURED tuning passes ([[recommendPlan]] runs) this JVM
    * has paid for — the observable a routing-cost spec reads: repeat
    * [[knnRouted]] calls on one corpus must not increment it. */
  private[graft] val planTunings = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The routing decision as a build-once artifact. [[recommendPlan]]
    * re-collects brute ground truth, the nprobe grid AND a full SQ8
    * query run — a per-(corpus, k, target) property, not per-query
    * work — so the chosen plan persists under the [[ArtifactCache]]
    * discipline keyed by the embeddings fingerprint, every parameter
    * the measurement depends on and the engine's code, with an in-JVM
    * memo (keyed by the same path) on top. A new corpus generation or
    * engine build re-tunes; repeat queries read five numbers. */
  def ensurePlan(s: SparkSession, dir: String, k: Int = 5,
      targetRecall: Double = 0.9, defaultWidth: Int = 16,
      rerank: Int = 50): SearchPlan = {
    val key = ArtifactCache.key("ivfplan", dir, "embeddings.parquet",
      k, targetRecall, defaultWidth, rerank)
    val memo = planCache.get(key)
    if (memo != null) return memo
    val path = ArtifactCache.ensure(key) { tmp =>
      planTunings.incrementAndGet()
      val p = recommendPlan(s, dir, k, targetRecall, defaultWidth, rerank)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/plan.csv"),
        s"${p.nprobe},${p.sq8Rerank},${p.rerank},${p.fullPrecisionReads},${p.recall}"
          .getBytes("UTF-8"))
    }
    val Array(np, sq, rr, fpr, rc) = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$path/plan.csv")), "UTF-8").trim.split(",")
    val plan = SearchPlan(np.toInt, sq.toBoolean, rr.toInt, fpr.toLong, rc.toDouble)
    planCache.putIfAbsent(key, plan)
    plan
  }

  /** MEASURED-PLAN IVF search: [[recommendPlan]] wired into the query
    * path. A caller states a recall target; the router picks the
    * cheapest measured configuration — the plain partition-pruned
    * full-precision search when the default probe width already meets
    * the target, or the SQ8-sidecar two-stage ([[IvfIndex
    * .knnSq8Rerank]]) when the target needs a wide probe (where
    * RECALL.json r15 measured 448 full-precision reads vs 14,465 for
    * the plain nprobe=32 scan at recall 0.96). The returned rows are
    * IDENTICAL to calling the chosen branch directly (spec-pinned);
    * the decision is recorded in [[RoutedPlanProperty]] and the plan's
    * measured cost lands in RECALL.json as `knn_ivf_routed`.
    * recommendPlan's tuning pass is per-corpus/index-GENERATION cost
    * (ground truth + grid are build-once artifacts, and the decision
    * itself persists via [[ensurePlan]]), not per query: the second
    * routed call on a corpus launches ONLY the chosen branch's jobs
    * (spec-pinned by job-group count against the direct branch).
    */
  def knnRouted(s: SparkSession, dir: String, k: Int = 5,
      targetRecall: Double = 0.9): DataFrame =
    knnRoutedWith(s, dir, k, ensurePlan(s, dir, k, targetRecall))

  /** The routed branch dispatch for an already-chosen [[SearchPlan]] —
    * what a caller holding [[ensurePlan]]'s result (e.g. RecallReport,
    * which also needs the plan's cost fields) uses to avoid a second
    * plan resolution. */
  def knnRoutedWith(s: SparkSession, dir: String, k: Int,
      plan: SearchPlan): DataFrame = {
    s.sparkContext.setLocalProperty(RoutedPlanProperty,
      s"nprobe=${plan.nprobe},sq8=${plan.sq8Rerank},rerank=${plan.rerank}," +
        s"fp_reads=${plan.fullPrecisionReads}")
    if (plan.sq8Rerank)
      IvfIndex.knnSq8Rerank(s, dir, k, plan.nprobe, plan.rerank)
    else
      IvfIndex.knnIndexed(s, dir, k, plan.nprobe)
  }

  /** Search only the probed cells: equi-join the cell-assigned corpus
    * to the broadcast probe set on `cent_id`, score with the codegen
    * dot, keep top-k per query.
    */
  private[graft] def searchCells(assigned: DataFrame, probes: DataFrame,
      k: Int): DataFrame = {
    val scored = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", graft.functions.Rounding.portableRound4(
        VectorFunctions.arrayDot(col("emb"), col("q_emb")) / (col("nrm") * col("q_nrm"))))
    topKPerQuery(scored, k)
  }
}
