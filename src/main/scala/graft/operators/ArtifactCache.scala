package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared discipline for build-once /tmp artifact caches (summary
  * tables, near-dup indexes, IVF indexes, media indexes, plans): one
  * key derivation, whole-artifact completion markers, and crash/
  * concurrency-safe publication.
  *
  * Four failure modes this closes:
  *  - STALE INPUT: a regenerated source with preserved sizes/mtimes —
  *    or a 32-bit String.hashCode collision across many cached
  *    variants — serving an artifact built from different data. The
  *    [[key]] carries a 128-bit MD5 of the input's (name, length,
  *    mtime) listing.
  *  - STALE CODE: an artifact built by an older engine (another
  *    feature algorithm, grid trainer, window geometry or constant)
  *    served to the current one. The [[key]] carries
  *    [[codeFingerprint]], an MD5 over every class file of the engine
  *    plus the Spark version, so ANY engine change misses the cache;
  *    no call site keeps a version token to bump.
  *  - PARTIAL: a crash between two artifact writes leaving a dir whose
  *    first write's `_SUCCESS` passes while a sibling is missing.
  *    [[ensure]] writes ONE `_GRAFT_DONE` marker after the whole build.
  *  - CONCURRENT: two gate runs building the same cache path at once,
  *    each reading the other's half-written files. Builds go to a
  *    per-JVM temp dir and publish by atomic rename; the loser of the
  *    race discards its build and serves the winner's.
  */
private[graft] object ArtifactCache {

  /** pid@host — distinct for concurrent JVMs on one machine. */
  val runToken: String = java.lang.management.ManagementFactory
    .getRuntimeMXBean.getName.replaceAll("[^A-Za-z0-9]+", "_")

  /** 128-bit content-change fingerprint of a file or directory: MD5
    * over the sorted (name, length, mtime) part listing. */
  def fingerprint(src: java.io.File): String = {
    val parts = Option(src.listFiles()).map(_.toSeq).getOrElse(Seq(src))
    val listing = parts.sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(";")
    hex(MessageDigest.getInstance("MD5").digest(listing.getBytes("UTF-8")))
  }

  private def hex(digest: Array[Byte]): String = digest.map("%02x".format(_)).mkString

  /** MD5 over the engine's own code, computed once per JVM: the class
    * files under the code source of this object (each one's path
    * relative to that root, then its bytes, in path order) — or the
    * jar's bytes when the engine runs from a jar — plus
    * `org.apache.spark.SPARK_VERSION`. It changes whenever any engine
    * source, constant or the Spark build changes. */
  lazy val codeFingerprint: String = {
    val md = MessageDigest.getInstance("MD5")
    val src = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    if (Files.isDirectory(src)) {
      val walk = Files.walk(src)
      val classes = try walk.iterator().asScala.filter(_.toString.endsWith(".class"))
        .map(p => src.relativize(p).toString -> p).toVector.sortBy(_._1)
      finally walk.close()
      classes.foreach { case (rel, p) =>
        md.update(rel.getBytes("UTF-8"))
        md.update(Files.readAllBytes(p))
      }
    } else md.update(Files.readAllBytes(src))
    md.update(org.apache.spark.SPARK_VERSION.getBytes("UTF-8"))
    hex(md.digest())
  }

  /** THE cache key of a build-once artifact:
    * `/tmp/graft-<family>/<dir sanitized>-<fingerprint(dir/input)>-<params>-<code>`,
    * plus [[cutoverTag]]. `params` are the RUNTIME arguments the
    * artifact depends on (k, thresholds, split ids); compile-time
    * constants need no place in it, [[codeFingerprint]] covers them.
    * The entry name starts with the sanitized dir and `-`, so
    * per-input cleanup can match it. */
  def key(family: String, dir: String, input: String, params: Any*): String =
    keyFor(codeFingerprint, family, dir, input, params: _*) + cutoverTag

  /** `-maxRows<v>` when [[DriverCutover.MaxRowsKey]] is set in the
    * active session, else empty. An artifact built with lowered driver
    * cutovers ran other branches than one built at the site caps, so
    * the two regimes never share an entry: a forced-distributed run
    * builds (and so checks) its own. Unset, keys are unchanged. */
  def cutoverTag: String =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(_.conf.getOption(DriverCutover.MaxRowsKey))
      .fold("")(v => s"-maxRows$v")

  /** [[key]] under an explicit code fingerprint (spec injection). */
  private[graft] def keyFor(code: String, family: String, dir: String,
      input: String, params: Any*): String = {
    val fp = fingerprint(new java.io.File(s"$dir/$input"))
    (Seq(s"/tmp/graft-$family/${dir.replaceAll("[^A-Za-z0-9.]+", "_")}", fp) ++
      params.map(_.toString) :+ code).mkString("-")
  }

  def isDone(path: String): Boolean = new java.io.File(s"$path/_GRAFT_DONE").exists()

  /** Observable build/hit counters for this JVM — the bench's per-run
    * instrumentation reads deltas to tell "the query re-BUILT its
    * /tmp artifact mid-battery" apart from ambient noise when
    * adjudicating a timing spike (the r16/r17 `q_media_dup_groups`
    * mid-battery double-spike hypothesis set). */
  val ensureBuilds = new java.util.concurrent.atomic.AtomicLong(0L)
  val ensureHits = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `build` into a temp sibling of `path` unless a completed
    * artifact is already published there; mark done, then publish by
    * atomic rename. Returns `path` with a complete artifact in place.
    * The leading-underscore marker name keeps Spark's parquet reader
    * from treating it as data (same convention as `_SUCCESS`).
    */
  def ensure(path: String)(build: String => Unit): String = {
    if (isDone(path)) ensureHits.incrementAndGet()
    if (!isDone(path)) {
      ensureBuilds.incrementAndGet()
      val tmp = s"$path.build-$runToken"
      deleteRecursively(new java.io.File(tmp))
      build(tmp)
      Files.createDirectories(Paths.get(tmp)) // a no-op build still publishes
      Files.write(Paths.get(s"$tmp/_GRAFT_DONE"), Array.emptyByteArray)
      Files.createDirectories(Paths.get(path).getParent)
      try Files.move(Paths.get(tmp), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          // another run published first: serve theirs, drop ours —
          // anything else (move genuinely failed, no artifact) rethrows
          if (isDone(path)) deleteRecursively(new java.io.File(tmp)) else throw e
      }
    }
    path
  }

  /** Recursive local-FS delete — THE one copy (Bench, SummaryMv, and
    * the IVF compaction all route here; private duplicates drifted).
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** True when the tree under `f` holds at least one parquet file that
    * Spark's file index would actually READ — dot- and underscore-
    * prefixed entries (hidden staging dirs like `.del-tmp`, markers
    * like `_SUCCESS`) are invisible to Spark and must be invisible to
    * data-presence checks too, or a crashed pre-commit staging dir
    * makes a store look non-empty that `spark.read` then fails on.
    * The hidden-ness check applies BELOW `f`, never to `f` itself:
    * `spark.read.parquet(".del-tmp")` reads a hidden dir's contents
    * just fine when addressed directly, and so must the presence
    * check a caller runs on its own staging dir. THE one copy for the
    * lifecycle family's walkers. */
  def hasVisibleParquet(f: java.io.File): Boolean =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten
        .filter(c => !c.getName.startsWith(".") && !c.getName.startsWith("_"))
        .exists(hasVisibleParquet)
    else f.getName.endsWith(".parquet")

  /** `<pfx>N` subdirectories of `root` that hold visible parquet data
    * (a marker-only dir — `_SUCCESS` kept for a streaming replay
    * guard — has nothing to merge), ascending. The shared batch-dir
    * walker of the incremental-index/state family. */
  def dataBatchIds(root: String, pfx: String = "batch="): Seq[Int] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(pfx) &&
        hasVisibleParquet(f))
      .map(_.getName.stripPrefix(pfx).toInt).sorted
}
