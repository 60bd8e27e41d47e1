package graft

import java.io.File
import java.nio.file.Files

import graft.operators.{ArtifactCache, CommitMarker}
import graft.streaming.EventStream

/** The two-phase commit-marker primitive every crash-safe maintenance
  * op routes through: its on-disk format, its atomicity rule, the
  * phase-B swap, the one probe guard, and a structural check that no
  * other file writes a marker by hand. */
class CommitMarkerSpec extends SparkSpec {

  private def withDir[T](body: File => T): T = {
    val d = Files.createTempDirectory("graft-marker").toFile
    try body(d) finally ArtifactCache.deleteRecursively(d)
  }

  private def bytes(f: File) = new String(Files.readAllBytes(f.toPath), "UTF-8")

  test("commit round-trip: lines joined by \\n, tag fields parsed, clear drops it") {
    withDir { d =>
      val m = CommitMarker(d.getPath, "apply")
      assert(!m.pending)
      m.commit(Seq("tomb:a.parquet", "tomb:b.parquet", "parts:batch,kb",
        "touched:0/3,1/7", "gen: 4 ", "empty:"))
      assert(m.pending && m.file == new File(d, ".apply-commit"))
      assert(bytes(m.file) == "tomb:a.parquet\ntomb:b.parquet\nparts:batch,kb\n" +
        "touched:0/3,1/7\ngen: 4 \nempty:")
      assert(!new File(d, ".apply-commit.tmp").exists())
      val l = m.read("touched", "parts")
      assert(l.every("tomb") == Set("a.parquet", "b.parquet"))
      assert(l.list("parts") == Seq("batch", "kb"))
      assert(l.list("touched") == Seq("0/3", "1/7"))
      assert(l.field("gen").contains("4") && l.list("empty").isEmpty &&
        l.field("absent").isEmpty && l.ids("absent").isEmpty)
      // a bare name-list marker (compactStaging, compactKeyDf) reads back
      // line for line
      val names = CommitMarker(d.getPath, "compact")
      names.commit(Seq("batch=9", "batch=3", "batch=9"))
      assert(names.read().all == Seq("batch=9", "batch=3", "batch=9"))
      m.clear()
      assert(!m.pending && names.pending)
    }
  }

  test("a stale .tmp left by a crash before the rename is not pending, " +
    "and the next commit overwrites it") {
    withDir { d =>
      val stale = new File(d, ".consol-commit.tmp")
      Files.write(stale.toPath, "sub:1,2\nkeydf:1,2,3,4,5,6".getBytes("UTF-8"))
      val m = CommitMarker(d.getPath, "consol")
      assert(!m.pending)
      m.commit(Seq("sub:", "keydf:7"))
      assert(!stale.exists())
      assert(m.read().all == Seq("sub:", "keydf:7"))
      assert(m.read().ids("keydf") == Seq(7) && m.read().ids("sub").isEmpty)
    }
  }

  test("a marker without a required tag fails loudly, naming the marker") {
    withDir { d =>
      val m = CommitMarker(d.getPath, "delete")
      Files.write(m.file.toPath, "ids:1,2\nremoved:keep".getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException](m.read("touched"))
      assert(e.getMessage.contains(m.file.getPath) &&
        e.getMessage.contains("touched:"), e.getMessage)
      val e2 = intercept[IllegalArgumentException](m.read("ids", "parts"))
      assert(e2.getMessage.contains("ids:/parts:"), e2.getMessage)
      assert(m.read("ids").list("ids") == Seq("1", "2"))
    }
  }

  test("swapIn replaces the target when the tmp is present and is a no-op " +
    "once it is gone") {
    withDir { d =>
      val tmp = new File(d, ".compact-tmp")
      val target = new File(d, "x/batch=4")
      tmp.mkdirs()
      Files.write(new File(tmp, "new.parquet").toPath, "new".getBytes("UTF-8"))
      target.mkdirs()
      Files.write(new File(target, "old.parquet").toPath, "old".getBytes("UTF-8"))
      CommitMarker.swapIn(tmp, target)
      assert(!tmp.exists() && target.list().toSeq == Seq("new.parquet"))
      // resume after a crash past the swap: nothing to do
      CommitMarker.swapIn(tmp, target)
      assert(!tmp.exists() && target.list().toSeq == Seq("new.parquet"))
      assert(bytes(new File(target, "new.parquet")) == "new")
      // a missing target (and parent) is created
      val tmp2 = new File(d, ".del-tmp")
      tmp2.mkdirs()
      CommitMarker.swapIn(tmp2, new File(d, "y/z/leaf"))
      assert(!tmp2.exists() && new File(d, "y/z/leaf").isDirectory)
    }
  }

  test("requireSettled refuses while each kind of posting-index marker is " +
    "pending") {
    withDir { d =>
      val path = d.getPath
      CommitMarker.requireSettled(path, "chunks")
      assert(CommitMarker.settled(path, "chunks"))
      Seq(
        ("keydf", "compact", "pending keydf compaction at " +
          s"$path: re-run AudioMatch.compactKeyDf to completion before probing"),
        ("deleted", "apply", "pending tombstone compaction at " +
          s"$path: re-run MediaIndexOps.compact to completion before probing"),
        ("chunks", "consol", "pending batch consolidation at " +
          s"$path: re-run MediaIndexOps.consolidateBatches to completion " +
          "before probing")
      ).foreach { case (sub, kind, msg) =>
        new File(d, sub).mkdirs()
        val m = CommitMarker(s"$path/$sub", kind)
        m.commit(Seq("touched:"))
        assert(!CommitMarker.settled(path, "chunks"))
        val e = intercept[IllegalStateException](
          CommitMarker.requireSettled(path, "chunks"))
        assert(e.getMessage == msg, e.getMessage)
        // another posting subdir's consolidation is not this probe's
        if (kind == "consol") CommitMarker.requireSettled(path, "frames")
        m.clear()
        CommitMarker.requireSettled(path, "chunks")
      }
    }
  }

  test("no file under src/main but CommitMarker and ArtifactCache writes a " +
    "marker or renames atomically by hand") {
    val root = new File("src/main")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val scala = walk(root).filter(_.getName.endsWith(".scala"))
    assert(scala.exists(_.getName == "CommitMarker.scala"))
    val offenders = scala
      .filterNot(f => Set("CommitMarker.scala", "ArtifactCache.scala")(f.getName))
      .filter { f =>
        val text = bytes(f)
        text.contains("ATOMIC_MOVE") || text.contains("-commit\"")
      }
    assert(offenders.isEmpty,
      s"hand-written marker protocol in ${offenders.map(_.getPath).mkString(", ")}: " +
        "route it through CommitMarker")
  }

  test("compactStaging crashed after staging, before the marker rename, " +
    "re-stages and ends byte-identical to a clean compaction") {
    import spark.implicits._
    withDir { d =>
      val clean = new File(d, "clean")
      (0 to 2).foreach { b =>
        (0 until 5).map(i => (s"2024-01-0${b + 1}", s"t$i", i, (b + 1) * 10L + i))
          .toDF("event_date", "event_type", "bucket", "cnt")
          .coalesce(1).write.parquet(s"$clean/batch=$b")
      }
      val crashed = new File(d, "crashed")
      def copy(from: File, to: File): Unit =
        if (from.isDirectory) {
          to.mkdirs()
          from.listFiles().foreach(c => copy(c, new File(to, c.getName)))
        } else Files.copy(from.toPath, to.toPath)
      copy(clean, crashed)
      // the crash state: a staged temp (here a partial merge, so a
      // resume that reused it instead of re-staging would lose rows) and
      // a marker that never got its rename, truncated to a prefix
      spark.read.parquet(s"$crashed/batch=0")
        .write.parquet(s"$crashed/.compact-tmp")
      Files.write(new File(crashed, ".compact-commit.tmp").toPath,
        "batch=2\nbatch=0".getBytes("UTF-8"))
      assert(!CommitMarker(crashed.getPath, "compact").pending)

      EventStream.compactStaging(spark, clean.getPath)
      EventStream.compactStaging(spark, crashed.getPath)

      // every file by dir, with the per-job UUID in part names elided
      def snapshot(root: File): Map[String, Seq[(String, Seq[Byte])]] = {
        def dirs(f: File): Seq[File] =
          f +: Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).flatMap(dirs)
        dirs(root).map { dir =>
          root.toPath.relativize(dir.toPath).toString ->
            dir.listFiles().filter(_.isFile).map(f =>
              (f.getName.replaceAll("-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", ""),
                Files.readAllBytes(f.toPath).toSeq)).toSeq.sortBy(_._1)
        }.toMap
      }
      val want = snapshot(clean)
      assert(want.keySet == Set("", "batch=0", "batch=1", "batch=2"))
      assert(want("batch=2").exists(_._1.endsWith(".parquet")) &&
        !want("batch=0").exists(_._1.endsWith(".parquet")))
      assert(snapshot(crashed) == want)
      assert(spark.read.parquet(crashed.getPath).count() == 15)
    }
  }
}
