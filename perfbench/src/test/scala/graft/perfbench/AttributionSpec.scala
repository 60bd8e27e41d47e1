package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.operators.ArtifactCache

/** Self-test of the tracer's attribution: one extra `noop` scan of the
  * corpus files, injected into the `InvertedIndex.buildGated` layer call,
  * must show up in that span as one more job and exactly the input bytes of
  * one corpus scan, and leave the job and input counts of every other span
  * unchanged. Later changes rely on spans to say where time went; this pins
  * that an extra scan is charged to the layer that caused it.
  */
class AttributionSpec extends AnyFunSuite {

  private def corpus(dir: File): Unit = {
    val files = (1 to 6).map { i =>
      val f = new File(dir, s"doc$i.txt")
      val text = (1 to 400).map(j => s"Word${(i * j) % 97}x alpha$j Beta's ${j % 13}").mkString(" ")
      Files.write(f.toPath, text.getBytes("UTF-8"))
      f.getName
    }
    Files.write(new File(dir, "manifest.txt").toPath,
      (s"${files.size}" +: files).mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  test("an extra noop scan injected into one layer call lands in that span only") {
    val dir = new File("target/selftest").getAbsoluteFile
    ArtifactCache.deleteRecursively(dir)
    dir.mkdirs()
    corpus(dir)
    val spark = GraftSession.local(2)
    try {
      val w = new IndexBuild(spark, dir.getPath)
      def traced(inject: Option[String]): Map[String, SpanStats] = {
        val t = new Tracer(spark)
        t.install()
        try w.tracedPass(t, inject) finally t.uninstall()
        t.spans.toMap
      }
      traced(None) // warm-up: first-run planning must not differ between the two
      val base = traced(None)
      val target = "operators.InvertedIndex.buildGated"
      val inj = traced(Some(target))
      val scan = dir.listFiles().filter(_.getName.startsWith("doc")).map(_.length).sum
      assert(base("sources.DocumentCorpus.documentsFromPaths").inputB == scan)
      assert(base.keySet == inj.keySet)
      base.keys.foreach { span =>
        val (b, i) = (base(span), inj(span))
        info(s"$span: jobs ${b.jobs} -> ${i.jobs}, input bytes ${b.inputB} -> ${i.inputB}")
        if (span == target) {
          assert(i.jobs == b.jobs + 1, s"$span jobs")
          assert(i.inputB == b.inputB + scan, s"$span input bytes")
        } else {
          assert(i.jobs == b.jobs, s"$span jobs")
          assert(i.inputB == b.inputB, s"$span input bytes")
        }
      }
      w.check()
      assert(w.failed == 0, w.failures.mkString("; "))
    } finally {
      spark.stop()
      ArtifactCache.deleteRecursively(dir)
    }
  }
}
