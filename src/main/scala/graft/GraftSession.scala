package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Local-mode defaults tuned for this container (32 cores); on a real
  * cluster the same builder settings apply except `master`, which
  * spark-submit provides. Shuffle partitions default to the core count
  * here — at 100 TB scale AQE coalesces/splits post-shuffle partitions
  * at runtime, so the static number only seeds the initial plan.
  *
  * File listing always runs on the driver here. Spark lists more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) input
  * paths with a distributed listing job, but in local mode that job runs
  * in this same JVM: it lists nothing faster and costs a job per read
  * (measured 0.15–0.25 s per 40-file manifest read on 4 cores). The same
  * stance as the local-mode default of `Dedup.ReliableCutEdgesKey`:
  * machinery that pays off across executors is pure overhead in one JVM.
  * A cluster session built by spark-submit keeps Spark's default.
  *
  * Generated code is compiled once per JVM, not once per pass. Spark
  * keeps compiled whole-stage and expression classes in one JVM-global
  * LRU cache of `spark.sql.codegen.cache.maxEntries` classes (default
  * 100), sized when the first class is compiled; a static conf, so it
  * can only be set here, in the builder. The engine's working sets
  * are larger than 100: one pass of the four near-dup families
  * (`minhashDupGroups`, `simhashNearDups`, `dupGroupKeepBest`,
  * `embeddingNearDupsIndexed`) cycled through 135 classes, so LRU
  * evicted each class before the next pass reused it and every pass
  * recompiled 60–90 of them (Janino, then the JIT again), a third to a
  * half of a pass's CPU. The paper's index job uses 23 classes.
  * [[CodegenCacheEntries]] holds either with room to spare. The whole
  * Bench battery generates 2,085 distinct classes (measured once at
  * sf0.01 with no eviction) over ~160 queries, more than any cache
  * worth its heap would hold; it runs each query's repetitions back
  * to back, so only each query's own few dozen classes need to stay.
  *
  * A cached class is reused only when its source is identical, and by
  * default a whole-stage class is named after its codegen stage id,
  * which adaptive execution numbers in planning order: the same
  * pipeline planned as stage 17 in one call and stage 20 in the next
  * compiled twice. `spark.sql.codegen.useIdInClassName=false` names
  * every such class `GeneratedIterator` (the stage id stays in the
  * code comment and in `explain`), which brings a near-dup pass to
  * 115 distinct classes. `CodegenCacheSpec` asserts a repeated
  * near-dup pass compiles nothing.
  *
  * The bigger cache holds a few MB more driver heap (the cached
  * entries keep their generated source). [[RetainedSqlExecutions]] and
  * [[RetainedStages]] pay it back: with the UI off, Spark's status
  * store still keeps the last 1000 SQL executions, each with its plan
  * graph and per-operator metric lists, and the last 1000 stages with
  * their task metrics, and nothing in the engine reads either. On the
  * perfbench near-dup workload (four timed passes) the heap left after
  * a full GC read 85.0–85.1 MB with the executions lowered alone and
  * 83.6 MB with the stages lowered too. Retained jobs stay at Spark's
  * default: `SparkContext.statusTracker` reads job groups from them.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`: 3.8× the largest working
    * set measured (135 classes, a near-dup pass). */
  val CodegenCacheEntries = 512

  /** `spark.sql.ui.retainedExecutions`: SQL executions the status
    * store keeps (Spark default 1000). */
  val RetainedSqlExecutions = 10

  /** `spark.ui.retainedStages`: stages the status store keeps (Spark
    * default 1000). */
  val RetainedStages = 100

  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
      // events.parquet carries TIMESTAMP(NANOS); set at session scope
      // (not mid-flight in a loader) so parquet read semantics don't
      // depend on query order — Tables.loadEvents does the ns→µs cast
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.ui.retainedExecutions", RetainedSqlExecutions.toString)
      .config("spark.ui.retainedStages", RetainedStages.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
}
