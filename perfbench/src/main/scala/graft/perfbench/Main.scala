package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession
import graft.operators.ArtifactCache

/** One benchmark JVM. `perfbench/run.py` starts it, after generating the
  * inputs, in one of two roles. Both start with the set-up: session start
  * plus one untimed warm-up pass, timed from the JVM's own start.
  *
  *  - `measure`: timed passes in a closed loop for `seconds`, then the
  *    oracle checks;
  *  - `trace`: untraced and traced runs of the same pass (their
  *    difference is the tracing overhead), then passes decomposed into layer
  *    spans, then the oracle checks.
  *
  * Usage: Main <workload> <input dir> <seconds> <role> <result.json>
  * The result is written as JSON to the last argument.
  */
object Main {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val Array(name, dir, secondsArg, role, resultPath) = args
    val seconds = secondsArg.toDouble
    val spark = GraftSession.local()
    val out = mutable.LinkedHashMap[String, Any]()
    out("session_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val w = Workload(name, spark, dir)
    try {
      w.setup()
      w.pass()
      out("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      out("setup_artifact_cache") = Map("builds" -> ArtifactCache.ensureBuilds.get(),
        "hits" -> ArtifactCache.ensureHits.get())
      role match {
        case "measure" => measure(w, seconds, out)
        case "trace" => trace(w, seconds, out)
      }
      w.check()
      out("attempted") = w.attempted
      out("failed") = w.failed
      out("failures") = w.failures.toSeq
      out("metrics") = w.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      out("ops") = w.samples.groupBy(_._1).map { case (k, v) =>
        val s = v.map(_._2).toSeq
        k -> Map("n" -> s.size, "p50" -> Workload.median(s), "p90" -> Workload.quantile(s, 0.9),
          "max" -> s.max)
      }
      out("evidence") = w.evidence
      out("artifact_cache") = Map("builds" -> ArtifactCache.ensureBuilds.get(),
        "hits" -> ArtifactCache.ensureHits.get())
      out("cores") = spark.sparkContext.defaultParallelism
      out("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576
    } finally {
      w.cleanup()
      spark.stop()
    }
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(resultPath), out)
  }

  /** Untimed settling passes for half of `seconds` (the JIT is still busy
    * compiling right after set-up, and its CPU swamps the first passes),
    * then a closed loop of timed passes for `seconds`, until the workload
    * has enough. */
  private def measure(w: Workload, seconds: Double, out: mutable.Map[String, Any]): Unit = {
    val settle = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (settle.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds / 2) {
      val t1 = System.nanoTime(); w.pass(); settle += (System.nanoTime() - t1) / 1e9
    }
    out("settle_pass_s") = settle.toSeq
    val walls = mutable.ArrayBuffer[Double]()
    val cpus = mutable.ArrayBuffer[Double]()
    val (gc0, jit0) = (gcS, jitS)
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while ((elapsed < seconds || !w.enough(walls.size)) && elapsed < 4 * seconds + 30) {
      val (t0, c0) = (System.nanoTime(), cpuS)
      try w.pass()
      catch { case e: Exception => w.fail(s"pass ${walls.size}: $e") }
      walls += (System.nanoTime() - t0) / 1e9
      cpus += cpuS - c0
    }
    out("live_heap_mb") = liveHeapMb()
    out("pass_s") = walls.toSeq
    out("cpu_s") = cpus.toSeq
    out("timed_gc_s") = gcS - gc0
    out("timed_jit_s") = jitS - jit0
  }

  /** One settling pass, then untraced and traced passes in A-B-B-A order,
    * so that JIT warm-up drift cancels out of the tracing overhead; then
    * layer decompositions. */
  private def trace(w: Workload, seconds: Double, out: mutable.Map[String, Any]): Unit = {
    def timedPass(traced: Boolean): Double = {
      val t = if (traced) Some(new Tracer(w.spark)) else None
      t.foreach(_.install())
      val t0 = System.nanoTime()
      try w.pass() finally t.foreach(_.uninstall())
      (System.nanoTime() - t0) / 1e9
    }
    w.pass()
    val Seq(u1, t1, t2, u2) = Seq(false, true, true, false).map(timedPass)
    val untraced = Seq(u1, u2)
    val traced = Seq(t1, t2)
    val t = new Tracer(w.spark)
    t.install()
    val (gc0, jit0) = (gcS, jitS)
    val start = System.nanoTime()
    var passes = 0
    while (passes < 1 || (System.nanoTime() - start) / 1e9 < seconds) {
      w.tracedPass(t)
      passes += 1
    }
    t.uninstall()
    val jvm = t.stats("jvm")
    jvm.add("gc_s", gcS - gc0)
    jvm.add("jit_s", jitS - jit0)
    out("pass_s_untraced") = untraced
    out("pass_s_traced") = traced
    out("tracing_overhead_s") = Workload.median(traced) - Workload.median(untraced)
    out("traced_passes") = passes
    out("spans") = t.spans.map { case (k, v) => k -> v.metrics(passes) }
  }
}
