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
  */
object GraftSession {

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
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
}
