package graft.operators

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** The two-phase commit marker of every crash-safe maintenance op in
  * the engine: the compactions and consolidations of the incremental
  * indexes and states, and the takedowns.
  *
  *  1. Phase A stages the new data in hidden dirs (the site's part).
  *  2. [[commit]] records intent: the lines go to `<marker>.tmp`, which
  *     is then renamed onto the marker with `ATOMIC_MOVE`. A crash
  *     leaves no marker or a complete one, never a truncated list, and
  *     a leftover `.tmp` is never read as pending.
  *  3. Phase B replays from the marker's lines alone ([[read]]).
  *  4. [[clear]] drops the marker LAST. While it exists the op is
  *     [[pending]] and probes refuse ([[CommitMarker.requireSettled]]).
  *
  * The marker is `<dir>/.<kind>-commit`, with `kind` one of `apply`,
  * `consol`, `compact`, `merge` or `delete`. Its lines are bare names or
  * `tag:value` fields joined by `\n`. Local-FS contract, like the rest
  * of the incremental lifecycle.
  */
final case class CommitMarker(dir: String, kind: String) {
  val file = new File(dir, s".$kind-commit")

  def pending: Boolean = file.exists()

  /** Commit `lines` as the marker: write to `.tmp`, then atomic rename. */
  def commit(lines: Seq[String]): Unit = {
    val tmp = new File(dir, s".$kind-commit.tmp")
    Files.write(tmp.toPath, lines.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp.toPath, file.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** The committed lines, blank ones dropped. The marker CONTRACT: each
    * tag in `required` must have a line, so a foreign or corrupted
    * marker fails loudly instead of resuming into a half-applied op. */
  def read(required: String*): CommitMarker.Lines = {
    val lines = new String(Files.readAllBytes(file.toPath), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSeq
    require(required.forall(t => lines.exists(_.startsWith(s"$t:"))),
      s"unrecognized $kind marker at $file (no ${required.mkString(":/")}: " +
        "line): inspect the staged state before resuming")
    CommitMarker.Lines(lines)
  }

  def clear(): Unit = file.delete()
}

object CommitMarker {

  /** A committed marker's lines with `tag:value` accessors. */
  final case class Lines(all: Seq[String]) {
    /** The trimmed value of the first `tag:` line. */
    def field(tag: String): Option[String] =
      all.find(_.startsWith(s"$tag:")).map(_.stripPrefix(s"$tag:").trim)
    /** The comma list of the first `tag:` line; empty when absent. */
    def list(tag: String): Seq[String] =
      field(tag).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    def ids(tag: String): Seq[Int] = list(tag).map(_.toInt)
    /** The values of every `tag:` line (one item per line). */
    def every(tag: String): Set[String] =
      all.filter(_.startsWith(s"$tag:")).map(_.stripPrefix(s"$tag:")).toSet
  }

  /** Phase B's idempotent swap: when the staged `tmp` dir is still
    * present, replace `target` with it by atomic rename; when it is
    * gone, a crashed earlier run already swapped it in. */
  def swapIn(tmp: File, target: File): Unit =
    if (tmp.exists()) {
      ArtifactCache.deleteRecursively(target)
      target.getParentFile.mkdirs()
      Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
    }

  /** Empty `dir` down to its `_SUCCESS` marker: a consumed batch dir
    * keeps the replay guard a streaming re-run looks for. */
  def markerOnly(dir: File): Unit = {
    ArtifactCache.deleteRecursively(dir)
    dir.mkdirs()
    Files.write(new File(dir, "_SUCCESS").toPath, Array.emptyByteArray)
  }

  /** A consolidation's phase B over `<root>/<pfx><id>` dirs: swap the
    * merged `<root>/<tmpName>` build into the newest of `ids`, keep its
    * `_SUCCESS` (the streaming replay contract needs it even after a
    * crash between the move and this check), and empty every older id
    * down to its marker. A no-op unless more than one id was merged. */
  def swapNewest(root: String, pfx: String, ids: Seq[Int], tmpName: String): Unit =
    if (ids.size > 1) {
      val target = new File(s"$root/$pfx${ids.max}")
      swapIn(new File(s"$root/$tmpName"), target)
      val ok = new File(target, "_SUCCESS")
      if (!ok.exists()) Files.write(ok.toPath, Array.emptyByteArray)
      ids.filter(_ != ids.max).foreach(i => markerOnly(new File(s"$root/$pfx$i")))
    }

  /** Move every parquet file of the staged `stage` dir into `live`
    * under `prefix` + its name (part names carry job UUIDs, so moves
    * never collide across repeated ops), then drop the stage. An empty
    * or missing stage means the files were already adopted. */
  def adopt(stage: File, live: File, prefix: String = ""): Unit = {
    val files = Option(stage.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    if (files.nonEmpty) live.mkdirs()
    files.foreach(f => Files.move(f.toPath,
      new File(live, prefix + f.getName).toPath,
      StandardCopyOption.REPLACE_EXISTING))
    ArtifactCache.deleteRecursively(stage)
  }

  /** The markers of a media posting index at `path` (postings under
    * `sub`) that make a probe refuse, each with its resuming entry
    * point: mid-swap, the index is neither the pre- nor the post-op
    * state (a half-swapped df table undercounts and re-admits over-cap
    * keys; a half-applied rewrite or consolidation serves a mix). */
  private def probeGuards(path: String, sub: String) = Seq(
    (CommitMarker(s"$path/keydf", "compact"), "keydf compaction",
      "AudioMatch.compactKeyDf"),
    (CommitMarker(s"$path/deleted", "apply"), "tombstone compaction",
      "MediaIndexOps.compact"),
    (CommitMarker(s"$path/$sub", "consol"), "batch consolidation",
      "MediaIndexOps.consolidateBatches"))

  /** True when no maintenance op on the posting index is mid-swap. */
  def settled(path: String, sub: String): Boolean =
    !probeGuards(path, sub).exists(_._1.pending)

  /** The one probe guard of the media posting indexes: throws
    * `IllegalStateException` naming the pending op and how to resume it. */
  def requireSettled(path: String, sub: String): Unit =
    probeGuards(path, sub).find(_._1.pending).foreach { case (_, op, entry) =>
      throw new IllegalStateException(
        s"pending $op at $path: re-run $entry to completion before probing")
    }
}
