package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative graph analytics over relational edge lists — the one
  * standard engine category (Pregel-style fixed-point computation)
  * not covered by the connected-components machinery in [[Dedup]].
  *
  * The demonstration graph is the bipartite supplier↔part co-supply
  * graph: an undirected edge per DISTINCT (l_suppkey, l_partkey) pair
  * in `lineitem`. PageRank over it ranks suppliers by how many
  * widely-supplied parts they carry (and parts by how central their
  * supplier set is) — the "importance over a derived relation" shape
  * a curation pipeline uses to weight sources by citation/link mass.
  *
  * EXACT-ARITHMETIC DESIGN: ranks are carried as fixed-point BIGINT
  * "mass units" (`Unit` = 10¹²) and every update uses INTEGER
  * division — `r div deg`, `(85 * s) div 100` — so each iteration is
  * associative integer addition of identical operands in any engine.
  * A float PageRank is order-dependent (neighbor sums), which would
  * make a cross-engine hash gate flaky by construction; the integer
  * form is bit-reproducible and the DuckDB oracle (an unrolled CTE
  * chain using `//`) matches hash-for-hash. The floor in each
  * division leaks ≤1 unit of mass per node per iteration (≤ n·iters
  * / 10¹² of total mass) — a deterministic, documented bias, not an
  * approximation knob.
  *
  * Scale: every per-iteration relation except the static edges is
  * NODE-sized (ranks, shares, contributions — the static degree is
  * carried inside the rank relation, so the share `r div deg` is a
  * pure projection and no degree join ever enters the loop). While the
  * node set fits the broadcast budget, shipping it to the persisted
  * edge partitions removes the per-iteration edge-sized shuffle
  * entirely; past the budget the loop degrades to the classic Pregel
  * split — edges keep their src hash layout across all iterations and
  * only the node relation re-shuffles each round (it is the data that
  * changed). Iterations compose LAZILY in chunks of [[CheckInterval]]
  * between eager localCheckpoint barriers: one scheduled job per
  * chunk, lineage depth bounded by the chunk size (persist alone
  * caches blocks but keeps NESTING the plan — a deep iteration budget
  * OOM'd the driver on plan growth), and the exact-convergence early
  * exit rides each chunk's materialization. No driver-side state
  * beyond the loop counter and a 3-long fingerprint.
  */
object Graphs {

  /** Total rank mass in fixed-point units (10¹²: large enough that
    * `Unit div n` keeps ≥6 significant digits at n ≤ 10⁶ nodes,
    * small enough that `85 * mass` stays far below 2⁶³). */
  private val Unit = 1000000000000L

  /** Iterations composed lazily between materialization barriers: the
    * persist/fingerprint/convergence check runs once per chunk, so the
    * driver pays one job per CheckInterval iterations while lineage
    * depth stays bounded at the chunk size. */
  private val CheckInterval = 5

  /** Undirected edge list of the supplier↔part graph, both
    * directions materialized (src, dst as tagged string node ids). */
  private[graft] def supplyEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.load(s, dir, "lineitem")
      .select(concat(lit("s"), col("l_suppkey")).as("sn"),
        concat(lit("p"), col("l_partkey")).as("pn"))
      .distinct()
    pairs.select(col("sn").as("src"), col("pn").as("dst"))
      .unionByName(pairs.select(col("pn").as("src"), col("sn").as("dst")))
  }

  /** The persisted RDD backing a localCheckpoint'd DataFrame — the
    * handle needed to FREE its blocks deterministically. A checkpointed
    * Dataset's analyzed plan is a single [[LogicalRDD]] leaf wrapping
    * the persisted internal RDD; `Dataset.unpersist` cannot reach it
    * (the CacheManager tracks `persist()` plans, not checkpoint RDDs),
    * and delegating to driver GC + the async ContextCleaner let r14's
    * bench battery pile up node-sized checkpoint blocks across ~10
    * pagerank executions — a 3.5× run-to-run spread plus GC storms that
    * contaminated the three alphabetically-following queries. */
  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collectFirst {
      case lr: LogicalRDD => lr.rdd
    }

  /** ALL LogicalRDD leaves of a plan — the seed-pin set. A warm seed
    * composed from MORE than one handed-off result (a union/join of two
    * previous outputs) has several checkpoint-backed leaves, and each
    * must survive the entry releaseResults or the it0 materialization
    * dies on missing blocks (checkpointed RDDs have no lineage to
    * recompute). `checkpointRdd` (first leaf) remains correct for the
    * single-leaf handles this file creates itself. */
  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd
    }

  /** Final-result checkpoints handed off to callers. The returned
    * DataFrame is BACKED by its checkpoint blocks (freeing them before
    * the caller consumes the result would kill the data — a
    * checkpointed RDD has no lineage to recompute from), so each run
    * registers its final checkpoint here and FREES the previous runs'
    * at the next entry — except any RDD currently serving as a
    * warm-start seed (see [[pageRankWarm]]). Bench batteries re-enter
    * pageRank 6–10× per battery; this caps the leak at one node-sized
    * RDD instead of letting every execution's blocks accumulate. */
  private val handoff = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()

  /** DIAGNOSTIC: ids of every checkpoint RDD the most recent run
    * created (it0, each chunk, the final handoff — in order). Lets a
    * spec assert the leak fix for real: after a run, every id here
    * except the last must be gone from `sc.getPersistentRDDs`. */
  @volatile private[graft] var lastRunCheckpointIds: List[Int] = Nil

  /** Free every handed-off final checkpoint except `keep` (RDD ids).
    * Public so tests and long-lived drivers can release the last run's
    * blocks without starting another run. */
  def releaseResults(keep: Set[Int] = Set.empty): Unit = {
    val retained = new java.util.ArrayList[RDD[_]]()
    var r = handoff.poll()
    while (r != null) {
      if (keep.contains(r.id)) retained.add(r) else r.unpersist(blocking = false)
      r = handoff.poll()
    }
    retained.forEach(rr => handoff.add(rr))
  }

  /** Damped PageRank (d = 0.85), `iters` synchronous iterations from
    * a uniform start, in fixed-point integer arithmetic. Returns every
    * node with its final rank mass (BIGINT units of 10⁻¹²). There are
    * no dangling nodes by construction — every node comes from an
    * edge, and the graph is undirected — so no leaked-mass
    * redistribution term is needed.
    *
    * Lifecycle note: the result is backed by an engine-held checkpoint
    * that is freed at the NEXT pageRank/pageRankWarm entry (or an
    * explicit [[releaseResults]]) — consume or persist it before
    * starting another run, unless you pass it as that run's warm seed
    * (seeds are pin-protected).
    */
  def pageRank(s: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    // driver cutover bounded by the lineitem ROW COUNT — parquet footer
    // metadata, no scan, and an upper bound on distinct co-supply pairs
    // — so the decision costs no job and an over-cap corpus never pays
    // a wasted probe (a limit-collect probe was measured and rejected:
    // at sf0.1 the 1.17M-edge graph sat just past the cap and the
    // probe's full distinct + 1M-row collect made the query 1.8× SLOWER)
    if (DriverCutover.fits("Graphs.pageRank", s, DriverEdges)(
        2 * Tables.load(s, dir, "lineitem").count())) {
      s.sparkContext.setLocalProperty("graft.pagerank.converged_at", null)
      releaseResults()
      // distinct over the raw KEY PAIR, tagged strings built on the
      // driver: the "s"/"p"-prefix mapping is injective, so the pair
      // sets are identical, and the shuffle + collect move 16-byte
      // long pairs instead of ~30-byte tagged strings (guide §2.3,
      // narrower types)
      val pairRows = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("sk"),
          col("l_partkey").cast("long").as("pk"))
        .distinct().collect()
      val edges = pairRows.flatMap { r =>
        val sn = "s" + r.getLong(0); val pn = "p" + r.getLong(1)
        Seq((sn, pn), (pn, sn))
      }
      driverPageRank(s, edges, iters)
    } else run(s, supplyEdges(s, dir), iters, None)
  }

  /** WARM-START PageRank: same update, same graph-from-`dir`, but
    * iteration 0 is seeded from `start` (a previous run's
    * `(node, rank_fp)` output — typically over yesterday's edge set)
    * instead of the uniform vector. The damped update is a contraction
    * whose fixed point is start-independent, so once the
    * exact-convergence early exit fires the result is IDENTICAL to a
    * cold run's fixed point — the seed only changes how many iterations
    * it takes to get there (a day's edge delta leaves most ranks
    * near-settled, so the warm run re-converges in a fraction of the
    * cold iteration count; measured in the `pagerank_warm` probe).
    * Nodes new in this graph (absent from `start`) seed at the uniform
    * share; nodes that left the graph are dropped with their mass —
    * convergence re-normalizes against the teleport term, not the seed
    * total. `iters` is a BUDGET here, not a result-defining count:
    * callers want the fixed point, so give it room (default 50).
    */
  def pageRankWarm(s: SparkSession, dir: String, start: DataFrame,
      iters: Int = 50): DataFrame =
    run(s, supplyEdges(s, dir), iters, Some(start))

  /** [[DriverCutover]] cap of a COLD [[pageRank]], in directed edges:
    * below it the whole fixed-point loop runs on the driver. The update
    * is exact integer arithmetic (`r div deg`, `(85·s) div 100`,
    * teleport), so the driver loop is bit-identical to the distributed
    * one per iteration, and one collect (≤ cap/2 distinct pairs ≈
    * 70 MB) replaces ~10 scheduled jobs. Warm runs keep the distributed
    * path (their seed is a checkpoint-backed frame the pin/release
    * machinery owns). */
  private val DriverEdges = 1L << 22

  private def driverPageRank(s: SparkSession, edges: Array[(String, String)],
      iters: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions.col
    if (edges.isEmpty)
      return Seq.empty[(String, Long)].toDF("node", "rank_fp")
    // index the node universe (every node appears as a src — the edge
    // list carries both orientations)
    val idx = scala.collection.mutable.HashMap.empty[String, Int]
    edges.foreach { case (a, _) => if (!idx.contains(a)) idx.update(a, idx.size) }
    val n = idx.size
    val srcIdx = edges.map(e => idx(e._1))
    val dstIdx = edges.map(e => idx(e._2))
    val deg = new Array[Long](n)
    srcIdx.foreach(i => deg(i) += 1)
    var r = Array.fill(n)(Unit / n)
    val teleport = (15L * Unit) / (100L * n)
    var executed = 0
    var converged = false
    while (executed < iters && !converged) {
      val contrib = new Array[Long](n)
      var i = 0
      while (i < edges.length) {
        // per-edge `r div deg` — positive longs, so Java / is the same
        // floored division as Spark's `div`
        contrib(dstIdx(i)) += r(srcIdx(i)) / deg(srcIdx(i))
        i += 1
      }
      val r2 = Array.tabulate(n)(v => teleport + (85L * contrib(v)) / 100L)
      converged = java.util.Arrays.equals(r, r2)
      r = r2
      executed += 1
    }
    if (converged)
      s.sparkContext.setLocalProperty("graft.pagerank.converged_at",
        executed.toString)
    val names = new Array[String](n)
    idx.foreach { case (name, i) => names(i) = name }
    // the ORDER stays a Spark sort over the node-sized result so the
    // output contract (rank desc, node asc string order) can never
    // drift from the distributed path's
    names.zip(r).toIndexedSeq.toDF("node", "rank_fp")
      .orderBy(col("rank_fp").desc, col("node").asc)
  }

  /** Core loop over an explicit edge list — `private[graft]` so specs
    * and probes can run perturbed/synthetic graphs directly. */
  private[graft] def run(s: SparkSession, edgeList: DataFrame, iters: Int,
      start: Option[DataFrame]): DataFrame = {
    // stale-state hygiene: a previous call on this thread may have
    // converged; a reader sampling the property after a NON-converging
    // run must not see that run's count
    s.sparkContext.setLocalProperty("graft.pagerank.converged_at", null)
    // free previous runs' handed-off finals — except one currently
    // serving as this run's seed (its blocks are read by the it0
    // materialization below, and the caller may still hold it)
    releaseResults(keep =
      start.toSeq.flatMap(checkpointRdds).map(_.id).toSet)
    // eager src layout: the shuffle regime reuses it across all
    // iterations; the broadcast regime only needs SOME even layout, and
    // hash(src) is one (an unrepartitioned persist was tried in r14 and
    // AQE-coalesced the small cache to ~1 partition — serial scans)
    val edges = edgeList
      .repartition(col("src"))
      .persist()
    // the degree relation doubles as the node universe; it gets its own
    // eager node-hash layout — in the past-broadcast-budget fallback
    // regime the per-iteration `deg.join(contrib, "node")` must find
    // deg already partitioned on node or it re-shuffles the STATIC
    // relation every round (one node-sized shuffle paid once here buys
    // that; in the broadcast regime it is node-sized noise)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .repartition(col("node"))
      .persist()
    val n = deg.count()
    if (n == 0) {
      // empty graph: schema-correct empty result, nothing left pinned
      val out = deg.select(col("node"), col("deg").as("rank_fp"))
      edges.unpersist(); deg.unpersist()
      return out
    }
    // NODE-SIDED BROADCAST budget (see the loop comment below): past it
    // a node-sized relation would OOM executors as a broadcast, so
    // every node-sized hint — including the warm seed join — degrades
    // to a shuffle join by node count
    val nodeBroadcastBudget = 1000000L
    def nodeSized(df: org.apache.spark.sql.DataFrame) =
      if (n <= nodeBroadcastBudget) broadcast(df) else df
    // iteration 0: every node gets (Unit div n) mass, or — warm start —
    // its seed rank, falling back to the uniform share for nodes the
    // seed has never seen; the static degree rides inside the rank
    // relation so the loop never joins it
    val it0 = start match {
      case None =>
        deg.select(col("node"), lit(Unit / n).as("r"), col("deg"))
      case Some(seed) =>
        deg.join(
            nodeSized(seed.select(col("node"), col("rank_fp").as("seed_r"))),
            Seq("node"), "left")
          .select(col("node"),
            coalesce(col("seed_r"), lit(Unit / n)).as("r"), col("deg"))
    }
    var ranks = it0.localCheckpoint(true)
    // the checkpoint whose blocks the CURRENT `ranks` no longer needs
    // once its successor materializes — freed in-loop (see checkpointRdd)
    var prevCk: Option[RDD[_]] = checkpointRdd(ranks)
    val ckIds = scala.collection.mutable.ListBuffer[Int](prevCk.map(_.id).toSeq: _*)
    val teleport = (15L * Unit) / (100L * n)
    // EARLY EXIT ON EXACT CONVERGENCE: integer fixed-point ranks settle
    // exactly (floored division — no float drift keeping iterates
    // wiggling), and the update is a deterministic function of (ranks,
    // edges, deg) alone, so ranks_k == ranks_{k-1} implies every later
    // iterate is identical — stopping early returns EXACTLY the
    // `iters`-iteration result the unrolled oracle computes. Detection
    // rides the materialization pass the loop already pays: the old
    // bare `.count()` becomes a (count, Σr, XOR of row hashes)
    // fingerprint (xor: order-independent, overflow-free under ANSI).
    // A fingerprint match is necessary-not-sufficient, so it is
    // CONFIRMED with one node-sized anti-equality check before exiting.
    def fingerprint(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val r = df.agg(count(lit(1)).as("n"), sum(col("r")).as("s"),
        expr("bit_xor(xxhash64(node, r))").as("h")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    var prevFp = fingerprint(ranks) // materializes the cache
    var executed = 0
    var converged = false
    // NODE-SIDED BROADCAST (r14): every per-iteration relation except
    // the static edges is node-sized (ranks, shares, contributions).
    // While the node set fits the broadcast budget, shipping it to the
    // persisted edge partitions removes the per-iteration EDGE-sized
    // shuffle entirely — the only exchange left is the node-sized
    // partial-aggregate merge (measured 4.8 → ~2 s at sf0.1). Catalyst
    // won't pick this alone: the share/contrib projections sit behind
    // fresh persist() fences whose stats aren't trusted at plan time.
    // Past the budget (a billion-node graph) the hint would OOM the
    // executors, so it degrades to the r13 plan: edges keep their src
    // hash layout across all iterations and the node relation shuffles
    // — the standard Pregel split, chosen here by node count.
    // one synchronous update, lazily composed: per-node share
    // r div deg (a projection — bit-identical to the per-edge division
    // it replaces), summed at dst; a node with no in-mass this round
    // still gets the teleport term
    def step(r: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val share = r.select(col("node").as("src"), expr("r div deg").as("c"))
      val contrib = edges.join(nodeSized(share), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      deg.join(nodeSized(contrib.withColumnRenamed("dst", "node")),
          Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"),
          col("deg"))
    }
    // CHUNKED EXECUTION (r14): materializing EVERY iteration spent most
    // of the wall clock on per-job scheduling + persist round-trips
    // (measured ~0.6 s/iteration for a 1.2M-edge graph whose actual
    // arithmetic is far cheaper). Iterations now compose LAZILY and
    // every [[CheckInterval]]-th relation hits an EAGER localCheckpoint
    // — a true lineage CUT, not a persist: persist caches blocks but
    // keeps nesting the logical plan, and a deep budget (the 300-iter
    // convergence probe) OOM'd the driver on plan growth alone. With
    // the cut, plan depth is bounded by the chunk size, the driver
    // schedules one job per chunk, and the convergence check rides the
    // chunk materialization.
    while (executed < iters && !converged) {
      val span = math.min(CheckInterval, iters - executed)
      var cur: org.apache.spark.sql.DataFrame = ranks
      (1 to span).foreach(_ => cur = step(cur))
      val next = cur.localCheckpoint(true) // eager: one job per chunk
      // `next` is materialized (eager checkpoint) — the superseded
      // chunk's blocks are dead weight NOW, not at some future driver
      // GC: free them before anything else runs (the r14 leak)
      prevCk.foreach(_.unpersist(blocking = false))
      prevCk = checkpointRdd(next)
      ckIds ++= prevCk.map(_.id)
      val fp = fingerprint(next)
      // fp equality across a chunk is necessary-not-sufficient (hash
      // collision; a rank CYCLE of length dividing the span): only a
      // confirmed SINGLE-STEP fixed point licenses the early exit —
      // then every later iterate is identical and the result equals
      // the full `iters` unroll the oracle computes.
      if (fp == prevFp)
        converged = step(next).select(col("node"), col("r").as("r2"))
          .join(next.select(col("node"), col("r")), Seq("node"))
          .filter(col("r") =!= col("r2"))
          .isEmpty
      prevFp = fp
      ranks = next
      executed += span
    }
    if (converged)
      s.sparkContext.setLocalProperty("graft.pagerank.converged_at",
        executed.toString) // observable iteration count; result is the
                           // fixed point, identical to the full unroll
    // eager node-sized checkpoint so every iteration cache (including
    // the final chunk's) can be dropped before returning; the OUT
    // checkpoint itself is the caller's data — it goes on the handoff
    // queue and is freed at the next run's entry (or releaseResults)
    val out = ranks.select(col("node"), col("r").as("rank_fp"))
      .orderBy(col("rank_fp").desc, col("node").asc)
      .localCheckpoint(true)
    prevCk.foreach(_.unpersist(blocking = false))
    edges.unpersist(); deg.unpersist()
    val outCk = checkpointRdd(out)
    outCk.foreach(handoff.add)
    lastRunCheckpointIds = (ckIds ++ outCk.map(_.id)).toList
    out
  }

  /** The unrolled DuckDB restatement of [[pageRank]] — one CTE per
    * iteration, `//` where the Spark side uses `div`. Generated here
    * so the iteration count can never drift between engine and oracle.
    */
  def pageRankOracleSql(iters: Int = 5): String = {
    val base =
      s"""WITH pairs AS (
         |  SELECT DISTINCT 's' || l_suppkey AS sn, 'p' || l_partkey AS pn FROM lineitem
         |), edges AS (
         |  SELECT sn AS src, pn AS dst FROM pairs
         |  UNION ALL
         |  SELECT pn AS src, sn AS dst FROM pairs
         |), deg AS (
         |  SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1
         |), params AS (
         |  SELECT count(*) AS n FROM deg
         |), it0 AS (
         |  SELECT node, ${Unit}::BIGINT // p.n AS r FROM deg, params p
         |)""".stripMargin
    val steps = (1 to iters).map { k =>
      s""", it$k AS (
         |  SELECT d.node,
         |         CAST((15 * ${Unit}::BIGINT) // (100 * p.n)
         |           + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
         |  FROM deg d CROSS JOIN params p
         |  LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(rp.r // dg.deg) AS BIGINT) AS s
         |    FROM edges e
         |    JOIN it${k - 1} rp ON e.src = rp.node
         |    JOIN deg dg ON dg.node = e.src
         |    GROUP BY e.dst
         |  ) c ON c.node = d.node
         |)""".stripMargin
    }.mkString
    base + steps +
      s"\nSELECT node, r AS rank_fp FROM it$iters ORDER BY rank_fp DESC, node ASC"
  }
}
