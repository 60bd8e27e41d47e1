package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.SummaryRegistry

/** Summary-table (materialized pre-aggregation) lifecycle: build the
  * algebraic partials once, register them, and every subsequent
  * dim-subset aggregate over the fact is answered from the summary by
  * the [[graft.plans.RewriteAggregateToSummary]] optimizer rule — the
  * query text still says `lineitem`; the executed plan scans the
  * summary.
  *
  * 100 TB posture: the summary is O(∏ dim cardinalities) — metadata
  * scale for low-cardinality dims — so the rewrite converts a full
  * fact scan into a scan of a few thousand rows. Build cost is one
  * hash aggregation over the fact (map-side partials, one shuffle on
  * the dims), amortized across every query it serves; incremental
  * maintenance is the same union-merge [[TrainingPrep.weeklyRollup]]
  * demonstrates.
  */
object SummaryMv {

  /** (factPath#measure) pairs whose exactness-under-merge check has
    * already passed this session — registration is idempotent and
    * ensure-style callers re-register per query. */
  private val verifiedExact =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Write the summary parquet for `fact` grouped by `dims`: `cnt`
    * plus `sum_/min_/max_/cnt_` per measure. One shuffle,
    * metadata-sized output. `cnt_<m>` is the measure's NON-NULL count
    * — avg(m) over a nullable measure divides by it, not by the row
    * count, so the rewrite stays correct when measures carry NULLs.
    */
  def build(fact: DataFrame, dims: Seq[String], measures: Seq[String],
      path: String): Unit = {
    val aggs = count(lit(1)).as("cnt") +: measures.flatMap(m => Seq(
      sum(col(m)).as(s"sum_$m"), min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m"),
      count(col(m)).as(s"cnt_$m")))
    fact.groupBy(dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Incrementally fold a fact delta into an existing summary:
    * aggregate the delta alone (cost ∝ delta), union with the current
    * partials, and merge algebraically — sum-of-sums, min-of-mins,
    * max-of-maxes, cnt as sum-of-cnts. The fact is never re-scanned;
    * at 100 TB this is the nightly-ingest path (delta = today's
    * partition) and the rewrite over the refreshed summary keeps
    * serving queries unchanged.
    *
    * The delta's partials are staged to `path + ".next"` and the
    * merged rows are fully materialized on the driver BEFORE the
    * overwrite, so the input is never read while being replaced. (The
    * overwrite itself is delete-then-write, not an atomic rename —
    * single-writer discipline is the caller's job, as with any parquet
    * table.) If the summary at `path` is registered with the rewrite
    * rule, the registration is refreshed afterwards — a registered
    * plan pins the parquet FILE LISTING it was analyzed with, and the
    * overwrite replaces those files.
    */
  def merge(s: SparkSession, delta: DataFrame, dims: Seq[String],
      measures: Seq[String], path: String): Unit = {
    val stage = s"$path.next"
    build(delta, dims, measures, stage)
    val mergeAggs = sum(col("cnt")).as("cnt") +: measures.flatMap(m => Seq(
      sum(col(s"sum_$m")).as(s"sum_$m"),
      min(col(s"min_$m")).as(s"min_$m"),
      max(col(s"max_$m")).as(s"max_$m"),
      sum(col(s"cnt_$m")).as(s"cnt_$m")))
    val current = Tables.parquet(s, path)
    val schema = current.schema
    val merged = current
      .unionByName(Tables.parquet(s, stage))
      .groupBy(dims.map(col): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)
      .select(schema.fieldNames.map(col).toSeq: _*)
      // the summary is metadata-scale by construction, so a driver
      // round-trip is safe — and it materializes the merge BEFORE the
      // overwrite touches the input being read
      .collect()
    s.createDataFrame(java.util.Arrays.asList(merged: _*), schema)
      .write.mode("overwrite").parquet(path)
    ArtifactCache.deleteRecursively(new java.io.File(stage))
    graft.plans.SummaryRegistry.refreshByMvPath(path,
      Tables.parquet(s, path).queryExecution.analyzed)
  }


  /** Recompute the summary at `path` as a pure function of the staged
    * per-batch partials under `partialsRoot` (hive-layout
    * `batch=<id>/` subdirs, each written by [[build]]). Because the
    * output depends ONLY on the partials set — never on the summary's
    * previous content — re-running it for a replayed batch, or over a
    * path holding a leftover summary from an earlier run, cannot
    * double-count. Cost ∝ batches × groups: metadata-scale, no fact
    * re-scan. Refreshes any live rewrite-rule registration at `path`.
    */
  def rebuildFromPartials(s: SparkSession, partialsRoot: String,
      dims: Seq[String], measures: Seq[String], path: String): Unit = {
    val mergeAggs = sum(col("cnt")).as("cnt") +: measures.flatMap(m => Seq(
      sum(col(s"sum_$m")).as(s"sum_$m"),
      min(col(s"min_$m")).as(s"min_$m"),
      max(col(s"max_$m")).as(s"max_$m"),
      sum(col(s"cnt_$m")).as(s"cnt_$m")))
    val cols = dims ++ ("cnt" +: measures.flatMap(m =>
      Seq(s"sum_$m", s"min_$m", s"max_$m", s"cnt_$m")))
    Tables.parquet(s, partialsRoot)
      .groupBy(dims.map(col): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)
      .select(cols.map(col): _*)
      .write.mode("overwrite").parquet(path)
    graft.plans.SummaryRegistry.refreshByMvPath(path,
      Tables.parquet(s, path).queryExecution.analyzed)
  }

  /** Register an existing summary so the optimizer rule can use it.
    *
    * Registration is session-wide: EVERY later covered aggregate is
    * silently served from partials, which reorders floating-point
    * addition. That redirect is only invisible when each measure's
    * sums are exact under any merge order — true iff every value is an
    * integer-valued double within ±2^53 (or an integral type). By
    * default this is VERIFIED with one pushdown-friendly scan of the
    * fact per floating-point measure and registration refuses on the
    * first violating value; pass `allowInexact = true` to skip the
    * check when every consumer tolerates merge-order ulps (the usual
    * production posture — but never behind a bit-exact oracle gate).
    */
  def register(s: SparkSession, factPath: String, mvPath: String,
      dims: Seq[String], measures: Seq[String],
      allowInexact: Boolean = false): Unit = {
    // re-registration of the same (fact, measure) is free: the check
    // is memoized so ensure-style callers don't re-scan per query
    if (!allowInexact) {
      val fact = Tables.parquet(s, factPath)
      val floatMeasures = measures.filter(m => fact.schema(m).dataType match {
        case org.apache.spark.sql.types.DoubleType
           | org.apache.spark.sql.types.FloatType => true
        case _ => false
      }).filterNot(m => verifiedExact.contains(s"$factPath#$m"))
      floatMeasures.foreach { m =>
        val bad = fact
          .filter(col(m) =!= round(col(m)) || abs(col(m)) > lit(9007199254740992.0))
          .limit(1).collect()
        require(bad.isEmpty,
          s"summary measure '$m' has non-integer-valued (or >2^53) values " +
            s"(e.g. ${bad.head.getAs[Any](m)}): its partial-merged sums would " +
            "drift from direct aggregation by summation-order ulps. Pass " +
            "allowInexact = true to register anyway.")
        verifiedExact.add(s"$factPath#$m")
      }
    }
    SummaryRegistry.register(SummaryRegistry.Summary(
      factPath, mvPath,
      Tables.parquet(s, mvPath).queryExecution.analyzed,
      dims.toSet, measures.toSet))
  }

  /** Build-once path for the standard lineitem summary keyed by
    * (l_returnflag, l_linestatus), covering `l_quantity` ONLY.
    *
    * The registration criterion is deliberate: the summary stays
    * registered for the whole session, so ANY later covered aggregate
    * is served from partials — which reorders floating-point addition.
    * l_quantity is integer-valued, so its sums (and sum/count avg) are
    * bit-exact under any merge order and the redirect can never change
    * a hash-compared result; a float measure like l_extendedprice
    * would drift in the last ulps when served from partials, which a
    * production deployment accepts but a bit-exact oracle gate must
    * not. Register float measures only when every consumer tolerates
    * merge-order ulps.
    */
  def ensureLineitemSummary(s: SparkSession, dir: String): String = {
    // keyed by the fact file's fingerprint and the engine's code, so
    // regenerated testdata can never be served a stale summary from a
    // previous generation's /tmp cache
    val path = ArtifactCache.ensure(ArtifactCache.key("mv", dir, "lineitem.parquet")) {
      tmp => build(Tables.load(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"), tmp)
    }
    register(s, s"$dir/lineitem.parquet", path,
      Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"))
    path
  }

  /** The q_mv_rewrite entry: a pricing-style aggregate WRITTEN AGAINST
    * THE FACT — grouping by a strict subset of the summary dims, so
    * the rewrite does real partial merging (sum-of-sums across
    * linestatus values), plus a dims-only filter. The oracle computes
    * the same SQL directly over raw lineitem; equality proves the
    * summary redirect is semantically invisible.
    *
    * Every output is EXACT under partial merging (integer-valued
    * quantities; avg = exact sum / exact count), per the registration
    * criterion on [[ensureLineitemSummary]].
    */
  def summarize(s: SparkSession, dir: String): DataFrame = {
    ensureLineitemSummary(s, dir)
    Tables.load(s, dir, "lineitem")
      .filter(col("l_returnflag") =!= "X")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        avg(col("l_quantity")).as("avg_qty"))
      .orderBy(col("l_returnflag"))
  }
}
