package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Size-gated driver cutovers: the one place that decides "does this
  * relation fit on the driver".
  *
  * Six operators run a driver-side fast path while their input is small
  * and a distributed plan above it, the same trade a broadcast-join
  * threshold makes. Below its cap a site replaces a chain of scheduled
  * jobs (each ~0.3 s of fixed cost in local mode: iteration rounds,
  * persists, checkpoints, per-round collects) with one bounded collect
  * and plain Scala. Both branches return the same rows by construction
  * (`DriverCutoverSpec` runs each site both ways), so a cap is a cost
  * knob, never a correctness one. Each site owns its cap:
  *
  * | site                          | cap  | unit                              |
  * |-------------------------------|------|-----------------------------------|
  * | `Dedup.connectedComponents`   | 2¹⁹  | input pairs                       |
  * | `Dedup.cellPrune`             | 2¹⁶  | embedding rows (footer count)     |
  * | `Graphs.pageRank`             | 2²²  | directed edges, bound 2·lineitem  |
  * | `EntityResolution.fuzzyParts` | 2²¹  | matched candidate name pairs      |
  * | `Bpe.learnedMerges`           | 2²⁰  | dictionary words                  |
  * | `Multimodal.verifiedPairs`    | 2¹⁶  | media rows (boxed driver vectors) |
  *
  * Two gate shapes, each the cheapest bound its site holds:
  *  - [[collect]]: the gate IS the collect — one `limit(cap+1)` action
  *    whose rows the driver branch consumes, so an under-cap input pays
  *    no separate probe;
  *  - [[fits]]: the site already holds an upper bound that costs no job
  *    (a parquet footer count, a known media count); a bounded probe
  *    collect would be wasted work when the input is over the cap.
  *
  * [[MaxRowsKey]] lowers every cap at once (`min` with the site's cap);
  * unset, each site uses its own cap, and `0` sends every site down its
  * distributed branch without running any gate action. The `spark.`
  * prefix lets a forked JVM take it as a `-D` system property.
  */
object DriverCutover {

  val MaxRowsKey = "spark.graft.driver.maxRows"

  private val runs = new ConcurrentHashMap[(String, Boolean), AtomicLong]()

  private def counter(site: String, driver: Boolean): AtomicLong =
    runs.computeIfAbsent((site, driver), _ => new AtomicLong(0L))

  /** Times `site` took its driver branch in this JVM. */
  def driverRuns(site: String): Long = counter(site, driver = true).get()

  /** Times `site` took its distributed branch in this JVM. */
  def distributedRuns(site: String): Long = counter(site, driver = false).get()

  /** Every site that has run, as `site driver N distributed M`, sorted. */
  def summary: String =
    runs.keySet.asScala.map(_._1).toSeq.sorted
      .map(s => s"$s driver ${driverRuns(s)} distributed ${distributedRuns(s)}")
      .mkString("; ")

  private def cap(spark: SparkSession, siteCap: Long): Long =
    spark.conf.getOption(MaxRowsKey).fold(siteCap)(v => math.min(v.toLong, siteCap))

  private def record(site: String, driver: Boolean): Boolean = {
    counter(site, driver).incrementAndGet()
    driver
  }

  /** `df`'s rows if there are at most the effective cap of them, else
    * None (take the distributed branch). One bounded action; none at
    * all when the cap is 0. */
  def collect(site: String, df: DataFrame, siteCap: Long): Option[Array[Row]] = {
    val c = math.min(cap(df.sparkSession, siteCap), Int.MaxValue - 1L).toInt
    val rows = if (c > 0) Some(df.limit(c + 1).collect()).filter(_.length <= c) else None
    record(site, rows.isDefined)
    rows
  }

  /** Whether a relation of at most `bound` rows takes the driver
    * branch. `bound` is evaluated only when the effective cap is
    * positive. */
  def fits(site: String, spark: SparkSession, siteCap: Long)(bound: => Long): Boolean = {
    val c = cap(spark, siteCap)
    record(site, c > 0 && bound <= c)
  }
}
