package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One front door for every delete lifecycle in the engine. Seven
  * takedown-capable stores now exist — the IVF vector index, the video
  * frame index, the image chunk index, the audio landmark index, the
  * text shingle store, the media dup-group state, and the persisted
  * letter-partitioned inverted index — each grown its own entry points
  * and mid-swap guard predicates. A caller implementing "remove this
  * content everywhere" (DMCA / GDPR / opt-out sweeps hit every
  * modality at once) should not have to know seven APIs and their
  * subtly different refusal rules; this facade dispatches, and the
  * refuse-matrix spec sweeps every pending-marker combination through
  * it so the NEXT modality cannot quietly diverge.
  *
  * Semantics are exactly the per-family entry points' — no behavior
  * change, a pure dispatcher:
  *  - [[Modality.posting]] stores (video/image/audio/shingles) go
  *    through [[MediaIndexOps.delete]]/[[MediaIndexOps.compact]]:
  *    O(ids) tombstone, immediately invisible to probes, physical
  *    removal deferred;
  *  - [[IvfVectors]] through [[IvfIndex.delete]]/[[IvfIndex.compact]];
  *  - [[MediaGroups]] through [[MediaGroupsInc.delete]] (which IS
  *    delete+repair in one protocol — [[compact]] maps to
  *    [[MediaGroupsInc.compactState]], the state's generation fold);
  *  - [[TextIndex]] through [[IndexStore.delete]], which needs the
  *    victims' CONTENT (the words to unpost), not bare ids — callers
  *    pass the victim docs as (file_id, value) rows; its delete is
  *    already physical, so [[compact]] is a no-op.
  */
object Takedown {

  /** A deletable store family. `sub`/`idCol` are the posting-layout
    * parameters for the [[MediaIndexOps]]-backed modalities; None
    * marks the families with their own protocols. */
  sealed abstract class Modality(val posting: Option[(String, String)])
  /** Video frame index ([[PerceptualHash]]): `frames/kb=…` postings. */
  case object VideoFrames extends Modality(Some(("frames", "video_id")))
  /** Image chunk index ([[PerceptualHash]]): `chunks/kb=…` postings. */
  case object ImageChunks extends Modality(Some(("chunks", "media_id")))
  /** Audio landmark index ([[AudioMatch]]): `landmarks/kb=…` postings. */
  case object AudioLandmarks extends Modality(Some(("landmarks", "track_id")))
  /** Text shingle store ([[Dedup]]): `postings/kb=…`, no keydf. */
  case object TextShingles extends Modality(Some(("postings", "doc_id")))
  /** IVF vector index ([[IvfIndex]]): cell-partitioned `assigned/`. */
  case object IvfVectors extends Modality(None)
  /** Media dup-group state ([[MediaGroupsInc]]). */
  case object MediaGroups extends Modality(None)
  /** Letter-partitioned inverted index ([[IndexStore]]). */
  case object TextIndex extends Modality(None)

  /** Remove `victims` from the store at `path`. For every modality but
    * [[TextIndex]], `victims` is a single-column id frame (named or
    * not — the first column is taken); for [[TextIndex]] it is the
    * victim documents as (file_id, value) lines. Mutation-vs-marker
    * rules are the family's own: posting-store and IVF deletes are
    * O(ids) tombstone appends that are safe to race any pending
    * compaction (the new tombstone is absent from its marker and
    * survives the resume); group-state and text-index deletes resume
    * or refuse per their protocols. PROBES refuse mid-swap everywhere
    * — [[pending]] is the observable. */
  def delete(s: SparkSession, m: Modality, path: String,
      victims: DataFrame): Unit = m match {
    case mod if mod.posting.isDefined =>
      // no pending-marker guard here, BY the family's contract: a
      // delete racing a crashed/in-flight compaction or consolidation
      // is explicitly safe — it appends a tombstone file absent from
      // the marker, which survives the resume for the next compaction.
      // Refusing would wedge a DMCA sweep on an operation the protocol
      // permits. PROBES refuse mid-swap; deletes don't have to.
      MediaIndexOps.delete(s, path, victims, mod.posting.get._2)
    case IvfVectors =>
      IvfIndex.delete(s, path,
        victims.select(col(victims.columns.head).cast("long").as("vec_id")))
    case MediaGroups =>
      // a takedown list is bounded by contract — the collect hands the
      // family its driver-side victim list, not a data plane
      MediaGroupsInc.delete(s, path,
        victims.select(col(victims.columns.head).cast("long"))
          .collect().map(_.getLong(0)).toSeq)
    case TextIndex =>
      require(victims.columns.contains("file_id") &&
          victims.columns.contains("value"),
        "TextIndex victims are the documents to unpost — (file_id, value) " +
          "rows, not bare ids (the delete needs their words)")
      IndexStore.delete(s, path, victims)
    case other =>
      throw new IllegalArgumentException(s"unhandled modality $other")
  }

  /** Physically reclaim tombstoned rows at `path` (and for
    * [[MediaGroups]], fold the state's generation debt). [[TextIndex]]
    * deletes are already physical — no-op. */
  def compact(s: SparkSession, m: Modality, path: String): Unit = m match {
    case mod if mod.posting.isDefined =>
      val (sub, idCol) = mod.posting.get
      MediaIndexOps.compact(s, path, sub, idCol)
    case IvfVectors => IvfIndex.compact(s, path)
    case MediaGroups => MediaGroupsInc.compactState(s, path)
    case TextIndex => ()
    case other =>
      throw new IllegalArgumentException(s"unhandled modality $other")
  }

  /** Compliance audit — the "prove it's gone" query a GDPR/DMCA
    * process ends with: for the store at `path`, how much of `ids`
    * SURVIVES, split into the two truths that differ mid-lifecycle:
    *
    *  - `logical_rows`: rows a PROBE could still surface (tombstoned
    *    rows are logically gone the moment [[delete]] returns);
    *  - `physical_rows`: rows still on disk (tombstoned-but-not-yet-
    *    compacted rows count here — erasure isn't complete until
    *    [[compact]] reclaims them; for [[MediaGroups]] this includes
    *    the victims' DERIVED data — hv vectors and pair rows — which
    *    only the state compaction prunes).
    *
    * One row per store component: (component, logical_rows,
    * physical_rows). All-zero across every store = erasure complete;
    * the lifecycle spec pins logical going to zero at delete and
    * physical at compact. Reads refuse mid-swap via the same guards
    * as the family's probes (a half-swapped store can't be audited
    * honestly). */
  def verifyErased(s: SparkSession, m: Modality, path: String,
      ids: DataFrame): DataFrame = {
    require(!pending(m, path),
      s"pending maintenance at $path: resume it before auditing erasure")
    val vic = ids.select(col(ids.columns.head).cast("long").as("vid"))
    def present(p: String): Boolean = {
      val f = new java.io.File(p)
      f.exists() && ArtifactCache.hasVisibleParquet(f)
    }
    import s.implicits._
    // Each component audit is an independent count aggregate over a
    // small store; emitting them as tagged one-row aggregates UNIONED
    // into a single plan turns what used to be one scheduled job per
    // component (5 sequential jobs for the group store — fixed
    // scheduling cost, not compute; measured ~0.2 s apiece at sf0.1)
    // into ONE action whose independent scan stages the scheduler
    // overlaps by itself. The caller sees the same (component,
    // logical_rows, physical_rows) rows.
    def tagged(component: String, logical: Column, physical: Column,
        df: DataFrame): DataFrame =
      df.agg(coalesce(logical, lit(0L)).as("logical_rows"),
          coalesce(physical, lit(0L)).as("physical_rows"))
        .select(lit(component).as("component"),
          col("logical_rows"), col("physical_rows"))
    def absent(component: String): DataFrame =
      Seq((component, 0L, 0L))
        .toDF("component", "logical_rows", "physical_rows")
    // victim-hit indicator via broadcast left-outer (1 = some victim
    // matches) — lets one pass count both sides of a logical/physical
    // split instead of two semi-join count jobs
    def vicHits(df: DataFrame, idc: String): DataFrame =
      df.join(broadcast(vic.select(col("vid"), lit(1).as("hit"))
          .distinct()),
        col(idc) === col("vid"), "left_outer")
    val parts: Seq[DataFrame] = m match {
      case mod if mod.posting.isDefined =>
        val (sub, idCol) = mod.posting.get
        if (!present(s"$path/$sub")) Seq(absent(sub))
        else {
          val hits = vicHits(s.read.parquet(s"$path/$sub"), idCol)
            .filter(col("hit") === 1)
          MediaIndexOps.tombstones(s, path, idCol) match {
            case None =>
              Seq(tagged(sub, count(lit(1)), count(lit(1)), hits))
            case Some(t) =>
              // logical = victim rows not tombstoned; one pass over
              // the victim-matching postings with an anti-indicator
              val live = hits.join(
                broadcast(t.select(col(idCol), lit(1).as("dead")).distinct()),
                Seq(idCol), "left_outer")
              Seq(tagged(sub, sum(when(col("dead").isNull, 1L)),
                count(lit(1)), live))
          }
        }
      case IvfVectors =>
        if (!present(s"$path/assigned")) Seq(absent("assigned"))
        else {
          val hits = vicHits(s.read.parquet(s"$path/assigned"), "vec_id")
            .filter(col("hit") === 1)
          val tombDir = new java.io.File(s"$path/deleted")
          val hasTomb = Option(tombDir.listFiles()).toSeq.flatten
            .exists(_.getName.endsWith(".parquet"))
          if (!hasTomb)
            Seq(tagged("assigned", count(lit(1)), count(lit(1)), hits))
          else {
            val live = hits.join(
              broadcast(s.read.parquet(s"$path/deleted")
                .select(col("vec_id"), lit(1).as("dead")).distinct()),
              Seq("vec_id"), "left_outer")
            Seq(tagged("assigned", sum(when(col("dead").isNull, 1L)),
              count(lit(1)), live))
          }
        }
      case MediaGroups =>
        // labels ARE the probe surface: logical = the LATEST generation
        // (what currentLabels serves), physical = every generation
        // still on disk (stale gens are pruned by compactState). The
        // gen= partition column from the partitioned read distinguishes
        // them in one conditional aggregate.
        val gens = Option(new java.io.File(s"$path/labels").listFiles())
          .toSeq.flatten.filter(f => f.isDirectory &&
            f.getName.startsWith("gen=") && ArtifactCache.hasVisibleParquet(f))
          .map(_.getName.stripPrefix("gen=").toInt).sorted
        val labels = if (gens.isEmpty) absent("labels")
          else tagged("labels",
            sum(when(col("gen") === gens.max, 1L)), count(lit(1)),
            vicHits(s.read.parquet(s"$path/labels"), "doc_id")
              .filter(col("hit") === 1))
        // wins/hv/pairs are DERIVED data, never a probe surface (the
        // group answer flows only through labels, candidates and
        // fresh-verify only through live postings/pairs) — logical 0
        // by construction; their physical rows are what delete (wins)
        // and compactState (hv, pairs) reclaim
        def derived(subPath: String, idc: String): DataFrame =
          if (!present(s"$path/$subPath")) absent(subPath)
          else tagged(subPath, lit(0L), count(lit(1)),
            vicHits(s.read.parquet(s"$path/$subPath"), idc)
              .filter(col("hit") === 1))
        val pairs = if (!present(s"$path/pairs")) absent("pairs")
          else tagged("pairs", lit(0L), count(lit(1)),
            s.read.parquet(s"$path/pairs")
              .join(broadcast(vic),
                col("doc_a") === col("vid") || col("doc_b") === col("vid"),
                "left_semi"))
        Seq(labels, derived("wins", "media_id"), derived("hv", "media_id"),
          pairs)
      case TextIndex =>
        if (!present(path)) Seq(absent("index"))
        else {
          val vids = vic.collect().map(_.getLong(0).toInt).toSeq
          // the delete is physical: one truth for both columns
          Seq(tagged("index", count(lit(1)), count(lit(1)),
            IndexStore.load(s, path)
              .filter(arrays_overlap(col("file_ids"),
                typedlit(vids.toArray)))))
        }
      case other =>
        throw new IllegalArgumentException(s"unhandled modality $other")
    }
    parts.reduce(_.unionByName(_))
      .select(col("component"), col("logical_rows"), col("physical_rows"))
      .orderBy(col("component"))
  }

  /** Driver-contract compliance query — `q_erasure_audit`: stage a
    * MID-LIFECYCLE takedown fixture (the audit's interesting point —
    * victims deleted, state not yet compacted) and report
    * [[verifyErased]] over it. The fixture: the two-generation group
    * state build split at the median media id with the `% 7 == 3`
    * victims deleted (the `q_media_dup_groups_takedown` lifecycle,
    * stopped before [[MediaGroupsInc.compactState]]), plus the
    * letter-partitioned text index over the document lines with the
    * same victims physically erased. Expected shape mid-lifecycle:
    * labels logical 0 (victims leave the probe surface at delete) but
    * labels PHYSICAL > 0 (the stale pre-delete generation is pruned
    * only by compaction), wins physical 0 (the delete rewrites victim
    * postings out), hv and pairs physical > 0 (derived data, reclaimed
    * by compaction), text index 0/0 (that delete is physical).
    *
    * The fixture root is a FIXED, dir-derived path — no fingerprint
    * component — so the DuckDB oracle can restate every count with
    * literal `read_parquet` globs over the SAME staged files (an
    * independent reader checking the audit's physical claims);
    * staleness is handled by an inner `_AUDIT-<input fp>-<code fp>`
    * marker (plus [[ArtifactCache.cutoverTag]]) instead of the usual
    * [[ArtifactCache.key]] dir. */
  def erasureAuditRoot(dir: String): String =
    s"/tmp/graft-erasure-audit/${dir.replaceAll("[^A-Za-z0-9.]+", "_")}"

  def erasureAudit(s: SparkSession, dir: String): DataFrame = {
    val root = erasureAuditRoot(dir)
    val fp = ArtifactCache.fingerprint(
      new java.io.File(s"$dir/documents.parquet"))
    val marker = new java.io.File(
      s"$root/_AUDIT-$fp-${ArtifactCache.codeFingerprint}${ArtifactCache.cutoverTag}")
    if (!marker.exists()) {
      ArtifactCache.deleteRecursively(new java.io.File(root))
      new java.io.File(root).mkdirs()
      val media = Multimodal.mediaTable(s, dir)
        .select(col("media_id"), col("content"))
      val mid = media.agg(expr("percentile(media_id, 0.5)"))
        .head().getDouble(0).toLong
      MediaGroupsInc.ingest(s, s"$root/groups",
        media.filter(col("media_id") < mid))
      MediaGroupsInc.ingest(s, s"$root/groups",
        media.filter(col("media_id") >= mid))
      // the takedown list is the caller's bounded victim set by the
      // family contract — the collect is the API handing over ids
      val victims = media.filter(pmod(col("media_id"), lit(7)) === 3)
        .select(col("media_id")).collect().map(_.getLong(0)).toSeq
      MediaGroupsInc.delete(s, s"$root/groups", victims)
      val lines = graft.Tables.load(s, dir, "documents")
        .select(col("doc_id").cast("int").as("file_id"),
          col("text").as("value"))
      IndexStore.materialize(lines, s"$root/index")
      IndexStore.delete(s, s"$root/index",
        lines.filter(pmod(col("file_id"), lit(7)) === 3))
      java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
    }
    val vic = graft.Tables.load(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(7)) === 3)
      .select(col("doc_id").as("media_id"))
    // the two store audits are independent chains of small count jobs
    // (fixed scheduling cost, not compute) — overlap them on a
    // 2-thread pool, the annRecall §2.6 move; rows are unioned
    // deterministically afterward so the output is order-identical
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val (groups, text) = try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val fG = Future(verifyErased(s, MediaGroups, s"$root/groups", vic)
        .withColumn("store", lit("groups")).collect().toSeq)
      val fT = Future(verifyErased(s, TextIndex, s"$root/index", vic)
        .withColumn("store", lit("text")).collect().toSeq)
      (Await.result(fG, Duration.Inf), Await.result(fT, Duration.Inf))
    } finally pool.shutdown()
    import s.implicits._
    (groups ++ text)
      .map(r => (r.getString(3), r.getString(0), r.getLong(1), r.getLong(2)))
      .toDF("store", "component", "logical_rows", "physical_rows")
      .orderBy(col("store"), col("component"))
  }

  /** The DuckDB restatement of [[erasureAudit]]: every physical count
    * re-derived by an independent reader over the same staged parquet
    * (literal globs into [[erasureAuditRoot]]), the logical counts
    * re-derived from the store each probe surface actually reads (the
    * LATEST label generation; the index rows whose posting lists still
    * carry a victim). The by-construction zeros (wins/hv/pairs logical
    * — derived data is never a probe surface) are contract constants
    * on both sides. */
  def erasureAuditOracleSql(dir: String): String = {
    val r = erasureAuditRoot(dir)
    s"""SELECT * FROM (
      | SELECT 'groups' AS store, 'hv' AS component,
      |  CAST(0 AS BIGINT) AS logical_rows,
      |  (SELECT count(*) FROM read_parquet('$r/groups/hv/*/*.parquet') h
      |    WHERE h.media_id % 7 = 3) AS physical_rows
      | UNION ALL
      | SELECT 'groups', 'labels',
      |  (SELECT count(*) FROM read_parquet('$r/groups/labels/gen=1/*.parquet') l
      |    WHERE l.doc_id % 7 = 3),
      |  (SELECT count(*) FROM read_parquet('$r/groups/labels/*/*.parquet') l
      |    WHERE l.doc_id % 7 = 3)
      | UNION ALL
      | SELECT 'groups', 'pairs', CAST(0 AS BIGINT),
      |  (SELECT count(*) FROM read_parquet('$r/groups/pairs/*/*.parquet') p
      |    WHERE p.doc_a % 7 = 3 OR p.doc_b % 7 = 3)
      | UNION ALL
      | SELECT 'groups', 'wins', CAST(0 AS BIGINT),
      |  (SELECT count(*) FROM read_parquet('$r/groups/wins/*/*/*.parquet') w
      |    WHERE w.media_id % 7 = 3)
      | UNION ALL
      | SELECT 'text', 'index',
      |  (SELECT count(*) FROM read_parquet('$r/index/*/*.parquet') i
      |    WHERE EXISTS (SELECT 1 FROM UNNEST(i.file_ids) AS t(fid)
      |                  WHERE fid % 7 = 3)),
      |  (SELECT count(*) FROM read_parquet('$r/index/*/*.parquet') i
      |    WHERE EXISTS (SELECT 1 FROM UNNEST(i.file_ids) AS t(fid)
      |                  WHERE fid % 7 = 3))
      |) ORDER BY store, component""".stripMargin
  }

  /** True while ANY of the modality's maintenance protocols is
    * mid-swap at `path` — the union of the family's own guard
    * predicates, so a sweep over all modalities × all marker kinds has
    * one observable to assert against. */
  def pending(m: Modality, path: String): Boolean = m match {
    case mod if mod.posting.isDefined =>
      val sub = mod.posting.get._1
      MediaIndexOps.pendingApply(path) ||
        MediaIndexOps.pendingConsolidate(path, sub) ||
        new java.io.File(s"$path/keydf/.compact-commit").exists()
    case IvfVectors => IvfIndex.pendingApply(path)
    case MediaGroups =>
      MediaGroupsInc.pendingDelete(path) || MediaGroupsInc.pendingCompact(path)
    case TextIndex => IndexStore.pendingMaintenance(path)
    case other =>
      throw new IllegalArgumentException(s"unhandled modality $other")
  }
}
