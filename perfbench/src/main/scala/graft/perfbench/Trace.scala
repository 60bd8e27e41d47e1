package graft.perfbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What ran inside one span, summed over every time the span was entered. */
final class SpanStats {
  var wallS = 0.0
  var selfS = 0.0
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
  var resultB = 0L
  var planMs = 0L
  var filesRead = 0L
  /** stage id -> task run times (ms), for the skew of the dominant stage */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  /** named counts a workload adds to the span, summed over passes */
  val counts = mutable.LinkedHashMap[String, Double]()
  /** named values reported as set: ratios, regime flags, JVM-wide counters */
  val fixed = mutable.LinkedHashMap[String, Double]()

  def add(name: String, v: Double): Unit = counts(name) = counts.getOrElse(name, 0.0) + v

  /** max/median task time of the stage with the most task time */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2)
      if (med <= 0) 1.0 else ts.last.toDouble / med
    }

  /** The span's metric set, per traced pass. */
  def metrics(passes: Int): Map[String, Double] = {
    val p = math.max(passes, 1).toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "self_s" -> selfS / p, "wall_s" -> wallS / p, "jobs" -> jobs / p,
      "tasks" -> tasks / p, "task_cpu_s" -> taskCpuNs / 1e9 / p,
      "shuffle_write_mb" -> shuffleWriteB / mb / p, "shuffle_read_mb" -> shuffleReadB / mb / p,
      "spill_mb" -> spillB / mb / p, "input_mb" -> inputB / mb / p,
      "output_mb" -> outputB / mb / p, "result_mb" -> resultB / mb / p,
      "task_skew" -> taskSkew, "plan_s" -> planMs / 1000.0 / p,
      "files_read" -> filesRead / p) ++ counts.map { case (k, v) => k -> v / p } ++ fixed
  }
}

/** Span tracer driven from outside the engine.
  *
  * Spark is lazy, so a span cannot time a call that only builds a plan.
  * The workloads therefore open one span per cumulative prefix of a
  * pipeline's public calls and materialize the prefix inside it (through the
  * `noop` sink, see [[Tracer.materialize]]). A layer's `self_s` is its
  * prefix time minus the time of the prefix before it in the same chain;
  * every other counter is what ran inside the span itself.
  *
  * A [[SparkListener]] rolls task metrics up into the open span and a
  * [[QueryExecutionListener]] adds plan time (analysis, optimization and
  * planning from `QueryExecution.tracker`) and the number of files the
  * scans read. Spans run one at a time on the driver thread; the listener
  * bus is drained when a span closes, so events land in the span that
  * posted them.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val spans = mutable.LinkedHashMap[String, SpanStats]()
  @volatile private var open: SpanStats = null
  private val stageSpan = mutable.Map[Int, SpanStats]()
  private var chainWall = 0.0
  private var lastWall = 0.0

  private def sc = spark.sparkContext
  private def listeners =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  def install(): Unit = { sc.addSparkListener(this); listeners.register(this) }

  def uninstall(): Unit = {
    BenchBus.drain(sc)
    sc.removeSparkListener(this)
    listeners.unregister(this)
  }

  def stats(name: String): SpanStats = spans.getOrElseUpdate(name, new SpanStats)

  /** Run `body` as span `name`; its self time is its whole wall time. */
  def span[T](name: String)(body: => T): T = timed(name, chained = false)(body)

  /** Start a new prefix chain: the next [[prefix]] is measured from zero. */
  def newChain(): Unit = chainWall = 0.0

  /** Run `body` as the next prefix of the current chain. */
  def prefix[T](name: String)(body: => T): T = timed(name, chained = true)(body)

  /** Run `body` as the public entry point the current chain decomposes; it
    * records `coverage`, the chain's last prefix time over its own time. */
  def entry[T](name: String)(body: => T): T = {
    val covered = chainWall
    val r = timed(name, chained = false)(body)
    stats(name).add("coverage", covered / lastWall)
    r
  }

  private def timed[T](name: String, chained: Boolean)(body: => T): T = {
    require(open == null, s"span $name opened inside another span")
    BenchBus.drain(sc)
    val st = stats(name)
    open = st
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      lastWall = wall
      BenchBus.drain(sc)
      open = null
      st.wallS += wall
      st.selfS += (if (chained) wall - chainWall else wall)
      if (chained) chainWall = wall
    }
  }

  // --------------------------------------------------------- listeners

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val st = open
    if (st != null) {
      st.jobs += 1
      e.stageIds.foreach(stageSpan(_) = st)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stageSpan.getOrElse(e.stageId, open)
    val m = e.taskMetrics
    if (st != null && m != null) {
      st.tasks += 1
      st.taskCpuNs += m.executorCpuTime
      st.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      st.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      st.spillB += m.diskBytesSpilled
      st.inputB += m.inputMetrics.bytesRead
      st.outputB += m.outputMetrics.bytesWritten
      st.resultB += m.resultSize
      st.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val st = open
      if (st != null) {
        st.planMs += Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
        st.filesRead += Tracer.filesRead(qe)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Materialize a plan without collecting or writing it. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def filesRead(qe: QueryExecution): Long =
    collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
