package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.Tables
import graft.operators.CommitMarker

/** Structured Streaming forms of the events aggregations (SURVEY §2.2
  * streaming row; batch equivalents in
  * [[graft.operators.EventsQueries]]).
  *
  * The same tumbling-window semantics, expressed as an unbounded
  * `readStream` with a watermark: at scale this is the path late data
  * and state eviction take; in tests the parquet file is replayed
  * through a memory sink and asserted equal to the batch result.
  */
object EventStream {

  /** Streaming source over the events parquet (explicit schema — a
    * streaming source cannot infer). `ts` has shipped as both raw
    * nanos-as-long and native TIMESTAMP(MICROS) across testdata
    * generations (see Tables.loadEvents); a one-time batch footer read
    * decides which, and the nanos→µs conversion is applied only for the
    * legacy long encoding.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
    // nanosAsLong is session-scope config (GraftSession) — not set here
    val path = s"$dir/events.parquet"
    // one-time batch footer read decides the physical ts encoding; the
    // streaming schema must match the file exactly, so reuse it verbatim
    val tsType = Tables.parquet(spark, path).schema("ts").dataType
    val schema = StructType(
      StructType.fromDDL(
        "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .fields.patch(1, Seq(StructField("ts", tsType)), 0))
    val raw = spark.readStream.schema(schema).parquet(streamableDir(path))
    tsType match {
      case LongType =>
        // integer `div` (not `/`): see Tables.loadEvents — nanos exceed
        // double's exact-integer range
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      // NTZ → session-zoned relabel; see Tables.loadEvents (UTC session)
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** The streaming file source monitors a DIRECTORY; the testdata is a
    * single parquet file. Stage a per-file symlink dir (stable path, so
    * repeated calls reuse it). In production the source is already a
    * directory of arriving files and this is a no-op.
    */
  private def streamableDir(path: String): String = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(path)
    if (Files.isDirectory(src)) return path
    // keyed by a 128-bit digest of the full path: a 32-bit hashCode
    // collision would land two different sources' symlinks in one dir
    // and the stream would silently read both
    val d = Paths.get(sys.props("java.io.tmpdir"),
      "graft-stream-" + java.security.MessageDigest.getInstance("MD5")
        .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    Files.createDirectories(d)
    val link = d.resolve(src.getFileName)
    if (!Files.exists(link)) Files.createSymbolicLink(link, src)
    d.toString
  }

  /** Tumbling 1-hour windowed counts with a 1-hour watermark. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        to_date(col("window.start")).as("event_date"),
        hour(col("window.start")).cast("long").as("event_hour"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Per-user running event count — custom state via
    * mapGroupsWithState (the `KeyValueGroupedDataset` stateful path).
    */
  def userRunningCounts(spark: SparkSession, events: DataFrame): Dataset[(Long, Long)] = {
    import spark.implicits._
    events.select(col("user_id")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
  }

  /** Per-user running event count on the NEW arbitrary-state API
    * (Spark 4 `transformWithState` / `StatefulProcessor`) — the same
    * semantics as [[userRunningCounts]], spec-asserted equal. Kept
    * alongside the `mapGroupsWithState` form deliberately: the old API
    * is what existing pipelines run, the new one is where multi-state
    * / timers / TTL live going forward, and the engine supports both.
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` →
    * `RocksDBStateStoreProvider`), the transformWithState contract.
    */
  def userRunningCountsTws(spark: SparkSession,
      events: DataFrame): Dataset[(Long, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TTLConfig}
    import org.apache.spark.sql.Encoders
    class CountProcessor extends StatefulProcessor[Long, Long, (Long, Long)] {
      @transient private var n: org.apache.spark.sql.streaming.ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[Long],
          timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long)] = {
        val total = (if (n.exists()) n.get() else 0L) + rows.size
        n.update(total)
        Iterator.single((key, total))
      }
    }
    events.select(col("user_id")).as[Long]
      .groupByKey(identity)
      .transformWithState(new CountProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Streaming source over the documents parquet. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
    spark.readStream.schema(schema).parquet(streamableDir(s"$dir/documents.parquet"))
  }

  /** Incremental inverted-index maintenance: documents arriving on a
    * stream keep the word → posting-list aggregation current
    * (complete-mode memory sink here; on a cluster the sink would be
    * an upsertable store). Same word semantics as the batch pipeline —
    * the index is just a continuously-maintained aggregation.
    */
  def incrementalIndex(docs: DataFrame): DataFrame =
    graft.operators.TextQueries.wordDocPairs(docs)
      .groupBy(col("word"))
      .agg(sort_array(collect_set(col("doc_id"))).as("doc_ids"))

  /** Stateful streaming sessionization via flatMapGroupsWithState:
    * per user, a >30-minute gap between consecutive events starts a
    * new session (same semantics as the batch
    * [[graft.operators.EventsQueries.sessionCounts]], asserted equal
    * in the spec). State per user = (last event ts, sessions so far,
    * events so far) — constant size per key.
    *
    * Per-key state is constant but KEY CARDINALITY is not (every user
    * ever seen, forever), so an unbounded deployment needs eviction:
    * pass `stateTtlSec` to arm an event-time timeout — a user idle
    * past the TTL (by the stream's watermark clock) has their state
    * dropped. DOCUMENTED EVICTION SEMANTICS: a user reappearing after
    * eviction restarts from zero — their next update row counts
    * sessions/events from the new epoch only, so lifetime totals are
    * the per-epoch SUM downstream, not the latest row. With
    * `stateTtlSec = None` (default) state lives forever and the latest
    * row is the lifetime total — the historical behavior, asserted
    * equal to batch.
    */
  def sessionize(spark: SparkSession, events: DataFrame,
      stateTtlSec: Option[Long] = None): Dataset[(Long, Long, Long)] = {
    import spark.implicits._
    // EventTimeTimeout needs a watermark; 0s delay mirrors the
    // drop-late-arrivals policy already applied inside the function
    val src = stateTtlSec.fold(events)(_ => events.withWatermark("ts", "0 seconds"))
    val timeoutConf =
      if (stateTtlSec.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    // the raw `ts` column (not a cast) must reach the stateful op:
    // casting strips the watermark tag and the analyzer then rejects
    // EventTimeTimeout as "no watermark in query"
    src.select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long)](
        OutputMode.Update(), timeoutConf) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            // idle past TTL by the watermark clock: evict. No final
            // row is emitted — every update row was already complete
            // for its epoch.
            state.remove()
            Iterator.empty
          } else {
            // within a micro-batch rows arrive unordered: sort by event
            // time before applying the gap rule. Events older than the
            // carried lastTs (late arrivals across batches) are DROPPED —
            // processing them would regress the state clock and count
            // spurious session boundaries; this mirrors what a watermark
            // does and keeps counts equal to batch for in-order arrival.
            val times = rows.map(_._2.getTime / 1000L).toArray.sorted
            val (lastTs0, sessions0, events0) =
              state.getOption.getOrElse((Long.MinValue, 0L, 0L))
            var lastTs = lastTs0; var sessions = sessions0; var nEvents = events0
            times.foreach { t =>
              if (lastTs == Long.MinValue || t >= lastTs) {
                if (lastTs == Long.MinValue || t - lastTs > 1800) sessions += 1
                lastTs = t
                nEvents += 1
              }
            }
            state.update((lastTs, sessions, nEvents))
            stateTtlSec.foreach(ttl =>
              state.setTimeoutTimestamp((lastTs + ttl) * 1000L))
            Iterator((user, sessions, nEvents))
          }
      }
  }

  /** Online exact dedup at ingest: documents arriving on a stream are
    * keyed by content fingerprint; the FIRST arrival of a fingerprint
    * becomes canonical (ties within a micro-batch break to the lowest
    * doc_id) and every later arrival is flagged duplicate. State per
    * fingerprint = one canonical doc_id — constant size, so the
    * operator runs forever on an unbounded stream; at scale the state
    * store shards by fingerprint hash exactly like the batch
    * `groupBy(fp)` shuffles.
    *
    * For in-order (or single-batch) arrival this equals the batch
    * [[graft.operators.Dedup.canonicalMap]] row-for-row (asserted in
    * the spec). The deliberate online divergence: a LOWER doc_id
    * arriving after its fingerprint is already canonical is flagged
    * duplicate — an ingest pipeline must not rewrite history for
    * already-published canonical choices.
    *
    * Fingerprint cardinality grows without bound (one state entry per
    * distinct document ever ingested), so an unbounded deployment
    * passes `stateTtlMs` to arm a processing-time timeout: a
    * fingerprint not seen for the TTL is evicted. DOCUMENTED EVICTION
    * SEMANTICS: the dedup horizon becomes the TTL — a duplicate
    * arriving after its fingerprint was evicted is crowned canonical
    * again (NOT flagged), exactly like a retention-windowed dedup.
    * Processing time (not event time) because documents carry no event
    * timestamp; the TTL clock is ingest wall-clock, which is what a
    * retention window means operationally. Default `None` keeps state
    * forever — the historical behavior, asserted equal to batch.
    */
  def streamingDedup(spark: SparkSession, docs: DataFrame,
      stateTtlMs: Option[Long] = None): Dataset[(Long, Long, Long)] = {
    import spark.implicits._
    val timeoutConf =
      if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    docs
      .select(graft.functions.TextAnalysis.fingerprint(col("text")).as("fp"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Long)](
        OutputMode.Update(), timeoutConf) {
        (_: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val ids = rows.map(_._2).toArray.sorted
            val canonical = state.getOption.getOrElse(ids.head)
            state.update(canonical)
            stateTtlMs.foreach(state.setTimeoutDuration)
            ids.iterator.map(id =>
              (id, canonical, if (id == canonical) 0L else 1L))
          }
      }
  }

  /** Streaming curation funnel: per-source running counts of quality
    * and language gate failures over documents arriving on a stream —
    * the live data-quality dashboard of an ingest pipeline. Stateless
    * per-row gates (same expressions as the batch
    * [[graft.operators.Curation]] pipeline) feeding a streaming
    * aggregation keyed by source; state per source is one counter row,
    * so it runs forever on an unbounded stream. The duplicate gate is
    * deliberately absent here — online dup flagging is
    * [[streamingDedup]]'s job (it needs per-fingerprint state);
    * an ingest pipeline composes the two.
    */
  def streamingQualityFunnel(docs: DataFrame,
      minTokens: Int = 20, maxTokens: Int = 100000, maxPunct: Double = 0.2,
      langs: Seq[String] = Seq("en")): DataFrame =
    docs.select(col("source"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        graft.functions.TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        graft.functions.TextAnalysis.langPredict(col("text")).as("pred_lang"))
      .withColumn("fail_quality",
        (col("n_tokens") < minTokens || col("n_tokens") > maxTokens ||
          col("punct_ratio") > maxPunct).cast("long"))
      .withColumn("fail_lang", (!col("pred_lang").isInCollection(langs)).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("fail_quality")).as("n_fail_quality"),
        sum(col("fail_lang")).as("n_fail_lang"))

  /** Stream-stream click→purchase attribution: the one standard
    * Structured Streaming shape the surface was missing — two UNBOUNDED
    * sides equi-joined on user with an event-time range constraint
    * (each purchase matched to every click by the same user in the
    * preceding `windowSec`). Both sides carry a watermark and the join
    * condition bounds their time distance, which is exactly what lets
    * the state store CLEAN UP: buffered clicks older than
    * (purchase-side watermark − windowSec) can never match a future
    * purchase and are evicted; buffered purchases older than the
    * click-side watermark likewise (Spark derives both state
    * watermarks from the condition — without the range bound a
    * stream-stream join would buffer both sides forever). Inner join:
    * append-mode output, rows emit once both watermarks pass them.
    *
    * Batch counterpart for the equality spec: the same filters + plain
    * range join on the static events table. The streaming result must
    * equal it row-for-row on a bounded replay.
    */
  def clickPurchaseAttribution(events: DataFrame, windowSec: Long = 1800,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
      .withWatermark("p_ts", watermarkDelay)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("click_value"))
      .withWatermark("c_ts", watermarkDelay)
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS"))
      .select(col("purchase_id"), col("user_id"), col("p_ts"), col("c_ts"),
        col("purchase_value"), col("click_value"))
  }

  /** Ingest dedup by event id with a bounded horizon, on the built-in
    * state path: `dropDuplicatesWithinWatermark` keeps one state row
    * per event_id and — unlike plain `dropDuplicates`, whose state
    * grows forever — evicts ids once the watermark passes them, so
    * duplicates are only suppressed within the `delay` horizon (the
    * at-least-once-delivery window, which is what ingest retries
    * actually produce). Complements [[streamingDedup]], which keys on
    * content fingerprint and carries explicit canonical semantics.
    */
  def dedupEventsWithinWatermark(events: DataFrame,
      delay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: each micro-batch of events joins a
    * STATIC dimension table (user → market segment). No streaming
    * state at all — the static side is (re-)resolved per micro-batch,
    * so a dim-table update is picked up at the next batch, and the
    * broadcast keeps the join map-side: the stream never shuffles.
    * Left join: an event with no dim row must pass through with a null
    * segment, not vanish (enrichment must not filter the fact stream).
    */
  def enrichWithSegment(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
        broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("c_mktsegment").as("segment"))

  /** Streaming summary maintenance: `foreachBatch` stages each
    * micro-batch's algebraic partials under a per-run staging dir
    * keyed by batch id ([[graft.operators.SummaryMv.build]], cost ∝
    * batch), then recomputes the summary at `path` as a pure function
    * of the staged partials
    * ([[graft.operators.SummaryMv.rebuildFromPartials]], cost ∝
    * batches × groups — metadata-scale). The summary-table rewrite
    * rule serves always-fresh aggregates while ingest runs, and raw
    * history is never re-scanned.
    *
    * Exactly-once by construction, not by luck:
    *  - a batch REPLAYED after a crash between merge and checkpoint
    *    commit finds its `batch=<id>/_SUCCESS` already staged, skips
    *    the write, and the rebuild reproduces the identical summary —
    *    no double count (merge-into-current-state, the previous
    *    design, double-counted here);
    *  - a LEFTOVER summary at `path` from an earlier run is simply
    *    overwritten by the rebuild — it is never an input;
    *  - the staging dir is keyed by the stream's checkpoint location
    *    (digest) when given, else a fresh per-start token — so a fresh
    *    stream pointed at an old path can't silently absorb another
    *    run's staged batches, while a checkpoint-resumed stream finds
    *    exactly its own.
    *
    * Unbounded runs should periodically compact the staging dir (merge
    * partials into one batch dir); it grows one metadata-scale file
    * set per micro-batch.
    */
  def maintainSummary(facts: DataFrame, dims: Seq[String],
      measures: Seq[String], path: String,
      checkpointLocation: Option[String] = None): StreamingQuery =
    stagedMaintenance(facts, path, checkpointLocation)(
      stage = (batch, bdir) =>
        graft.operators.SummaryMv.build(batch, dims, measures, bdir),
      rebuild = (s, staging) =>
        graft.operators.SummaryMv.rebuildFromPartials(s, staging, dims, measures, path))

  /** The shared exactly-once staging scaffold behind [[maintainSummary]]
    * and [[maintainHistogram]] — the discipline lives in ONE place:
    *  - staging dir keyed by the checkpoint location (digest) when
    *    given, else a fresh per-start token, so a fresh stream pointed
    *    at an old path can't absorb another run's staged batches while
    *    a checkpoint-resumed one finds exactly its own;
    *  - a replayed batch finds its `batch=<id>/_SUCCESS` and skips the
    *    stage write (no double count);
    *  - the serving table is rebuilt as a PURE function of staging —
    *    leftovers at `path` are overwritten, never merged into.
    * Unbounded runs should periodically compact the staging dir; it
    * grows one metadata-scale file set per micro-batch.
    */
  private def stagedMaintenance(source: DataFrame, path: String,
      checkpointLocation: Option[String])(
      stage: (DataFrame, String) => Unit,
      rebuild: (SparkSession, String) => Unit): StreamingQuery = {
    val runKey = checkpointLocation match {
      case Some(c) => java.security.MessageDigest.getInstance("MD5")
        .digest(c.getBytes("UTF-8")).map("%02x".format(_)).mkString
      case None => java.util.UUID.randomUUID().toString.replace("-", "")
    }
    val staging = s"$path.batches-$runKey"
    val writer = source.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // enforce compactStaging's "offline op" contract: between its
        // commit marker and the final move, merged data lives only in
        // the hidden temp dir, which rebuilds don't read — staging or
        // rebuilding under a pending compaction would serve undercounts.
        if (CommitMarker(staging, "compact").pending)
          throw new IllegalStateException(
            s"pending compaction at $staging: re-run compactStaging " +
              "to completion before resuming the stream")
        val bdir = s"$staging/batch=$batchId"
        if (!new java.io.File(s"$bdir/_SUCCESS").exists())
          stage(batch, bdir)
        rebuild(batch.sparkSession, staging)
      }
    checkpointLocation.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** Streaming histogram maintenance — the percentile sibling of
    * [[maintainSummary]]: each micro-batch's fixed-boundary bucket
    * counts ([[graft.operators.TrainingPrep.dailyHistogram]], cost ∝
    * batch) are staged under a per-run dir keyed by batch id, then the
    * merged daily-partial table at `path` is rebuilt as a pure
    * function of the staged partials (cost ∝ batches × types × ≤128
    * buckets — metadata-scale). Serving
    * [[graft.operators.TrainingPrep.histogramPercentiles]] over
    * `path` then gives always-fresh p50/p90/p99 per week while ingest
    * runs, with raw history never re-scanned.
    *
    * Same exactly-once discipline as [[maintainSummary]]: a replayed
    * batch finds its `batch=<id>/_SUCCESS` and skips the stage write;
    * the rebuild over unchanged partials is idempotent; a leftover
    * table at `path` is overwritten, never merged into.
    */
  def maintainHistogram(events: DataFrame, path: String,
      checkpointLocation: Option[String] = None): StreamingQuery =
    stagedMaintenance(events, path, checkpointLocation)(
      stage = (batch, bdir) =>
        graft.operators.TrainingPrep.dailyHistogram(batch)
          .write.mode("overwrite").parquet(bdir),
      rebuild = (s, staging) => rebuildHistogram(s, staging, path))

  /** Streaming word-frequency dictionary maintenance — the BPE train
    * input ([[graft.operators.Bpe]]) kept always-fresh while document
    * ingest runs: each micro-batch stages its OWN word counts (cost ∝
    * batch — word counts are algebraic, so independently staged batch
    * counts merge exactly), and the serving dictionary at `path` is
    * rebuilt as a pure function of the staged partials. Tokenizer
    * (re-)training then reads the dictionary, never the corpus
    * ([[graft.operators.Bpe.bpeTrainFromCounts]]) — the shape that
    * turns BPE training from a 100 TB re-scan into a vocab-sized job
    * at any corpus size. Same exactly-once discipline as
    * [[maintainSummary]]: replayed batches skip their stage write,
    * leftovers at `path` are overwritten, never merged into.
    */
  def maintainDictionary(docs: DataFrame, path: String,
      checkpointLocation: Option[String] = None): StreamingQuery =
    stagedMaintenance(docs, path, checkpointLocation)(
      stage = (batch, bdir) =>
        graft.operators.Bpe.wordCounts(batch)
          .write.mode("overwrite").parquet(bdir),
      rebuild = (s, staging) => rebuildDictionary(s, staging, path))

  /** Merge every staged batch word count into the dictionary at
    * `path` (pure function of the staging dir — replay-idempotent). */
  private[graft] def rebuildDictionary(s: org.apache.spark.sql.SparkSession,
      staging: String, path: String): Unit =
    Tables.parquet(s, staging)
      // batch=N shows up as a partition column — not part of the table
      .select(col("word"), col("cnt"))
      .groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))
      .write.mode("overwrite").parquet(path)

  /** Merge every staged batch histogram into the daily-partial table
    * at `path` (pure function of the staging dir — replay-idempotent).
    */
  private[graft] def rebuildHistogram(s: org.apache.spark.sql.SparkSession,
      staging: String, path: String): Unit = {
    val merged = Tables.parquet(s, staging)
      // batch=N shows up as a partition column — not part of the table
      .select(col("event_date"), col("event_type"), col("bucket"), col("cnt"))
      .groupBy(col("event_date"), col("event_type"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
      // the rebuild READS staging and WRITES path, so no
      // read-overwrite hazard; localCheckpoint would be wasted work
    merged.write.mode("overwrite").parquet(path)
  }

  /** Consolidate a maintenance staging dir (see [[stagedMaintenance]])
    * into ONE data-bearing batch dir — the periodic compaction an
    * unbounded run needs (staging grows one file set per micro-batch).
    * Offline op: run while the stream is stopped.
    *
    * Replay safety is preserved: every original `batch=<id>` dir keeps
    * its `_SUCCESS` marker (stripped to marker-only), so a replayed
    * batch still skips its stage write; the consolidated data lands in
    * the HIGHEST staged id's dir, and the rebuild stays a pure
    * function of staging.
    *
    * Crash safety via the [[graft.operators.CommitMarker]] protocol:
    * the merged output is written to a temp dir first, a marker commits
    * it as authoritative (atomically: a truncated list would strip only
    * a prefix of the merged dirs while the temp holds all of them), and
    * only then are source dirs stripped and the temp swapped in —
    * re-running compactStaging after a crash at ANY point resumes to
    * the identical end state (spec-simulated). A crashed compaction
    * must be finished (re-run) before serving a rebuild: between the
    * strip commit and the final move the data lives only in the
    * (hidden) temp dir, which rebuilds don't read.
    */
  def compactStaging(s: SparkSession, staging: String): Unit = {
    val root = new java.io.File(staging)
    val marker = CommitMarker(staging, "compact")
    val tmp = new java.io.File(root, ".compact-tmp")
    def batchDirs() = Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch=") &&
        new java.io.File(f, "_SUCCESS").exists())
    if (!marker.pending) {
      val dirs = batchDirs()
      if (dirs.size <= 1) return
      // phase A: merged partials -> temp, then commit via marker. The
      // marker names the target dir, making phase B re-runnable from
      // the marker alone.
      graft.operators.ArtifactCache.deleteRecursively(tmp)
      val keepName = s"batch=${dirs.map(_.getName.stripPrefix("batch=").toLong).max}"
      Tables.parquet(s, dirs.map(_.getPath): _*)
        .write.mode("overwrite").parquet(tmp.getPath)
      // the marker records the keep target AND the exact set merged into
      // the temp dir: phase B may strip only THESE. Batch dirs staged
      // after a crashed commit (stream restarted before the resume) are
      // absent from the temp merge — stripping them would silently drop
      // their partials from every future rebuild.
      marker.commit(keepName +: dirs.map(_.getName))
    }
    // phase B, resumable in strict order: (1) strip every MERGED batch
    // dir to marker-only, (2) commit the strip with a sentinel, (3) move
    // temp files into the target, (4) clear markers. A re-run after a
    // crash mid-(3) must NOT re-strip — that would delete the files
    // already moved in — which is exactly what the sentinel gates.
    val markerLines = marker.read().all
    val keepName = markerLines.head
    val mergedDirs = markerLines.drop(1).toSet
    val stripped = new java.io.File(root, ".compact-stripped")
    if (!stripped.exists()) {
      batchDirs().filter(d => mergedDirs.contains(d.getName)).foreach { d =>
        Option(d.listFiles()).toSeq.flatten
          .filterNot(_.getName == "_SUCCESS")
          .foreach(graft.operators.ArtifactCache.deleteRecursively)
      }
      stripped.createNewFile()
    }
    val keep = new java.io.File(root, keepName)
    keep.mkdirs()
    val successMarker = new java.io.File(keep, "_SUCCESS")
    if (!successMarker.exists()) successMarker.createNewFile()
    Option(tmp.listFiles()).toSeq.flatten
      .filterNot(_.getName == "_SUCCESS")
      .foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(keep, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    graft.operators.ArtifactCache.deleteRecursively(tmp)
    stripped.delete()
    marker.clear()
  }

  /** Streaming NEAR-dedup ingest: documents arrive on a stream in id
    * order; each micro-batch is deduped against the accumulated
    * shingle index (every doc seen in earlier batches) plus lower-id
    * docs of the same batch via [[graft.operators.Dedup
    * .batchDedupDecisions]], decisions land under
    * `outPath/decisions/batch=<id>`, and the batch's OWN shingles are
    * appended to `outPath/index/batch=<id>` — kept AND dropped docs
    * alike, so the decision rule stays exactly "similar to ANY
    * lower-id doc", byte-identical to the one-shot batch operator no
    * matter how the stream is chopped (spec-asserted).
    *
    * One honest divergence: the df cap uses DECISION-TIME document
    * frequency (df over index-so-far + current batch — a stream
    * cannot see the future), while the one-shot operator caps on
    * full-corpus df. The two agree exactly unless a shingle CROSSES
    * `maxDf` between a chunk boundary and end-of-corpus; a shingle
    * that was genuinely rare when a decision was made is arguably the
    * right thing to have counted.
    *
    * Idempotence follows [[maintainSummary]]'s staging discipline: a
    * replayed batch finds its `_SUCCESS`-marked dirs and skips the
    * work. Decisions are staged BEFORE the index append, and the
    * append derives from the already-staged decision set's batch, so
    * a crash between the two writes replays into the identical state
    * (the index-before for batch N is always exactly batches < N:
    * Spark replays at most the last uncommitted batch, and later
    * batches cannot have run).
    *
    * Scale: per micro-batch cost ∝ batch shingles + matched index
    * postings (the same delta-cost shape as the batch operator); the
    * index grows one batch=N parquet dir per micro-batch and should be
    * compacted periodically like any streaming sink.
    */
  def streamingNearDedup(docs: DataFrame, outPath: String,
      threshold: Double = 0.3, maxDf: Int = 50,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val idxDir = s"$outPath/index"
    val decDir = s"$outPath/decisions"
    val writer = docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val bDec = s"$decDir/batch=$batchId"
        val bIdx = s"$idxDir/batch=$batchId"
        val batchSh = graft.operators.Dedup.shingleHashes(
          batch.select(col("doc_id"), col("text")), k = 2)
        if (!new java.io.File(s"$bDec/_SUCCESS").exists()) {
          val existing = new java.io.File(idxDir)
          val indexSh =
            if (Option(existing.listFiles()).exists(_.nonEmpty))
              // batch=N dirs surface as a partition column — project
              // it away so the union with batch shingles lines up
              Tables.parquet(s, idxDir).select(col("doc_id"), col("sh"))
            else batchSh.limit(0)
          graft.operators.Dedup.batchDedupDecisions(
              batch.select(col("doc_id")), batchSh, indexSh, threshold, maxDf)
            .write.mode("overwrite").parquet(bDec)
        }
        if (!new java.io.File(s"$bIdx/_SUCCESS").exists())
          batchSh.write.mode("overwrite").parquet(bIdx)
      }
    checkpointLocation.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** Streaming near-dup GROUP maintenance — [[streamingNearDedup]]'s
    * pair relation upgraded to transitive closure, served WARM: each
    * micro-batch stages its verified Jaccard pairs (batch docs vs the
    * index accumulated from earlier batches plus lower-id docs of the
    * same batch — [[graft.operators.Dedup.batchDedupPairs]]), and the
    * batch's group labels are the connected components over the
    * ACCUMULATED pair store, seeded from the PREVIOUS batch's labels
    * ([[graft.operators.Dedup.connectedComponentsWarm]] — valid here
    * by construction: the pair store only ever appends, so every seed
    * label is the min id of an old component inside the same new one).
    * A merged cluster therefore converges in the diameter of the
    * DELTA's merge graph, not the full cluster diameter — the
    * measured-round saving is spec-pinned via `graft.cc.rounds`, and
    * warm ≡ cold labels at EVERY batch boundary.
    *
    * Layout under `outPath`: `index/batch=N` (shingle postings),
    * `pairs/batch=N` (that batch's verified pair delta),
    * `groups/gen=N` (full labels as of batch N). Staging order is
    * pairs → index → groups, each `_SUCCESS`-guarded, so a replayed
    * batch recomputes its groups from an identical pair store (the
    * [[maintainSummary]] idempotence discipline; same decision-time
    * df-cap caveat as [[streamingNearDedup]]).
    *
    * Scale: the pair stage is delta-cost (batch shingles + matched
    * postings); the closure re-reads the accumulated pair store —
    * member-proportional, contracted map-side by the warm CC's forest
    * path — but propagates only as far as the delta's merges reach.
    *
    * `consolidateEvery = Some(n)` folds the accumulated one-dir-per-
    * trigger debt via [[consolidateDedupState]] after every n-th
    * batch, from inside the single writer; a consolidation the
    * previous run crashed mid-swap is resumed BEFORE the next ingest
    * touches the state.
    */
  def streamingNearDedupGroups(docs: DataFrame, outPath: String,
      threshold: Double = 0.3, maxDf: Int = 50,
      checkpointLocation: Option[String] = None,
      consolidateEvery: Option[Int] = None): StreamingQuery = {
    val idxDir = s"$outPath/index"
    val pairDir = s"$outPath/pairs"
    val grpDir = s"$outPath/groups"
    val writer = docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        if (pendingDedupConsolidate(outPath)) consolidateDedupState(s, outPath)
        val bPair = s"$pairDir/batch=$batchId"
        val bIdx = s"$idxDir/batch=$batchId"
        val bGrp = s"$grpDir/gen=$batchId"
        val batchSh = graft.operators.Dedup.shingleHashes(
          batch.select(col("doc_id"), col("text")), k = 2)
        if (!new java.io.File(s"$bPair/_SUCCESS").exists()) {
          // data-presence via THE shared walker: a tree holding only
          // hidden/marker entries (a crashed consolidation's staging
          // dir, marker-only batch dirs) must read as empty or the
          // spark.read below dies on schema inference
          val indexSh =
            if (graft.operators.ArtifactCache.hasVisibleParquet(
                new java.io.File(idxDir)))
              Tables.parquet(s, idxDir).select(col("doc_id"), col("sh"))
            else batchSh.limit(0)
          graft.operators.Dedup.batchDedupPairs(
              batch.select(col("doc_id")), batchSh, indexSh, threshold, maxDf)
            .select(col("doc_a"), col("doc_b"))
            .write.mode("overwrite").parquet(bPair)
        }
        if (!new java.io.File(s"$bIdx/_SUCCESS").exists())
          batchSh.write.mode("overwrite").parquet(bIdx)
        if (!new java.io.File(s"$bGrp/_SUCCESS").exists()) {
          // an all-zero-pair prefix leaves no parquet part anywhere
          // under pairs/ (only _SUCCESS markers) — no schema to infer,
          // and no groups either
          val pairsAll =
            if (graft.operators.ArtifactCache.hasVisibleParquet(
                new java.io.File(pairDir)))
              Tables.parquet(s, pairDir).select(col("doc_a"), col("doc_b"))
            else {
              import s.implicits._
              Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
            }
          val seed = (0L until batchId).reverse
            .find(g => new java.io.File(s"$grpDir/gen=$g/_SUCCESS").exists())
            .map(g => Tables.parquet(s, s"$grpDir/gen=$g"))
          val labels = seed match {
            case Some(sd) => graft.operators.Dedup.connectedComponentsWarm(pairsAll, sd)
            case None => graft.operators.Dedup.connectedComponents(pairsAll)
          }
          labels.write.mode("overwrite").parquet(bGrp)
        }
        consolidateEvery.foreach { n =>
          if ((batchId + 1) % n == 0) consolidateDedupState(s, outPath)
        }
      }
    checkpointLocation.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** True while a [[consolidateDedupState]] is mid-swap — reads of the
    * index/pair trees may observe a half-applied layout; the streaming
    * writer resumes the swap before its next ingest. */
  def pendingDedupConsolidate(outPath: String): Boolean =
    CommitMarker(outPath, "consol").pending

  /** Consolidate a [[streamingNearDedupGroups]] state's per-micro-batch
    * debt — one `index/batch=N` + `pairs/batch=N` dir per trigger and
    * one `groups/gen=N` per closure — into the newest generation, with
    * zero answer change: both stores merge VERBATIM (the pair relation
    * is the answer; shingle postings carry no per-batch statistic), and
    * group generations below the newest data-holding one prune to
    * marker-only. Every consumed dir keeps its `_SUCCESS` so a replayed
    * batch still finds all three stage guards and skips its work; the
    * warm-seed lookup is unaffected because it scans generations
    * downward from the CURRENT batch and the newest (data-holding) one
    * is always hit first.
    *
    * The [[graft.operators.CommitMarker]] protocol: phase A
    * builds the merged stores under hidden `.consol-tmp` siblings and
    * commits the consumed ids; phase B — re-runnable from the
    * marker alone — swaps, empties consumed dirs down to their markers,
    * and drops the marker last. Single-writer contract: run between
    * triggers (the `consolidateEvery` cadence) or on the paused stream.
    */
  def consolidateDedupState(s: SparkSession, outPath: String): Unit =
    if (dedupConsolidatePhaseA(s, outPath)) dedupConsolidatePhaseB(s, outPath)

  private def dataDirs(root: String, pfx: String): Seq[Int] =
    graft.operators.ArtifactCache.dataBatchIds(root, pfx)

  private[graft] def dedupConsolidatePhaseA(s: SparkSession,
      outPath: String): Boolean = {
    if (pendingDedupConsolidate(outPath)) return true
    val idxIds = dataDirs(s"$outPath/index", "batch=")
    val pairIds = dataDirs(s"$outPath/pairs", "batch=")
    val grpIds = dataDirs(s"$outPath/groups", "gen=")
    if (idxIds.size <= 1 && pairIds.size <= 1 && grpIds.size <= 1) return false
    def build(root: String, ids: Seq[Int]): Unit = if (ids.size > 1) {
      val tmp = s"$root/.consol-tmp"
      graft.operators.ArtifactCache.deleteRecursively(new java.io.File(tmp))
      Tables.parquet(s, root).drop("batch")
        .write.mode("overwrite").parquet(tmp)
    }
    build(s"$outPath/index", idxIds)
    build(s"$outPath/pairs", pairIds)
    CommitMarker(outPath, "consol").commit(Seq(s"index:${idxIds.mkString(",")}",
      s"pairs:${pairIds.mkString(",")}", s"groups:${grpIds.mkString(",")}"))
    true
  }

  private[graft] def dedupConsolidatePhaseB(s: SparkSession,
      outPath: String): Unit = {
    val marker = CommitMarker(outPath, "consol")
    val lines = marker.read()
    CommitMarker.swapNewest(s"$outPath/index", "batch=", lines.ids("index"), ".consol-tmp")
    CommitMarker.swapNewest(s"$outPath/pairs", "batch=", lines.ids("pairs"), ".consol-tmp")
    // groups: no merge — the newest data-holding generation IS the
    // state; older ones prune to marker-only (replay guard preserved)
    val grpIds = lines.ids("groups")
    if (grpIds.size > 1)
      grpIds.filter(_ != grpIds.max).foreach(i =>
        CommitMarker.markerOnly(new java.io.File(s"$outPath/groups/gen=$i")))
    marker.clear()
  }

  /** Streaming audio-ingest matching — the upload-time ContentID
    * shape: tracks (track_id, pcm) arrive on a stream; each
    * micro-batch's clip-eligible tracks are excerpted and PROBED
    * against the landmark index accumulated from earlier batches
    * ("is this content already in the catalog?"), match verdicts land
    * under `outPath/matches/batch=<id>`, and the batch's own landmarks
    * + df partials are then staged into the incremental index layout
    * ([[graft.operators.AudioMatch]] — append-only postings, df cap
    * applied at probe time), so insert cost stays ∝ batch.
    *
    * Semantics: a batch is matched against STRICTLY EARLIER batches
    * (its own landmarks stage after the probe) — the first copy of any
    * content reports no match, every later copy matches the first.
    *
    * Exactly-once follows the staging discipline: matches stage
    * BEFORE the landmark append under `_SUCCESS`-guarded batch dirs,
    * so a replayed batch skips completed writes and a crash between
    * the two stages replays into the identical state (the index-before
    * for batch N is always exactly batches < N).
    *
    * LOCAL-FS CONTRACT: the `_SUCCESS` replay guards here (and
    * [[graft.operators.AudioMatch.matchAgainst]]'s empty-index walk)
    * use `java.io.File`, so `outPath` — whatever `checkpointLocation`
    * points at — must live on the driver-local default filesystem. On
    * HDFS/S3 the guards read as permanently false: every replayed
    * batch re-stages (duplicating partials) and every probe silently
    * returns empty verdicts. Port the guards to the Hadoop
    * `FileSystem` API resolved from the batch's session before
    * pointing `outPath` at a remote store (the repo-wide staging
    * convention — see [[compactStaging]]).
    */
  def streamingAudioIngest(tracks: DataFrame, outPath: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    import graft.operators.AudioMatch
    val idxDir = s"$outPath/index"
    val matchDir = s"$outPath/matches"
    val writer = tracks.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val bMatch = s"$matchDir/batch=$batchId"
        val bLmk = s"$idxDir/landmarks/batch=$batchId"
        val bDf = s"$idxDir/keydf/batch=$batchId"
        if (!new java.io.File(s"$bMatch/_SUCCESS").exists()) {
          // matchAgainst's empty-index guard covers both the very
          // first batch (no index dir yet) and a first batch that
          // staged ZERO landmarks (dir exists, no parquet anywhere)
          AudioMatch.matchAgainst(s, idxDir, AudioMatch.trackClips(batch))
            .write.mode("overwrite").parquet(bMatch)
        }
        val lmk = AudioMatch.trackLandmarks(batch)
        if (!new java.io.File(s"$bLmk/_SUCCESS").exists())
          lmk.withColumn("kb", pmod(col("key"), lit(AudioMatch.KeyBuckets)))
            .write.mode("overwrite").partitionBy("kb").parquet(bLmk)
        if (!new java.io.File(s"$bDf/_SUCCESS").exists())
          lmk.groupBy(col("key")).agg(count(lit(1)).as("cnt"))
            .coalesce(1).write.mode("overwrite").parquet(bDf)
      }
    checkpointLocation.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** Streaming video-ingest matching — [[streamingAudioIngest]]'s
    * upload-time ContentID shape for the video modality: videos
    * (media_id, content) arrive on a stream; each micro-batch's
    * uploads are excerpted ([[graft.operators.PerceptualHash
    * .ingestClips]] — every upload is checked, no subsampling) and
    * PROBED against the frame index accumulated from earlier batches,
    * verdicts land under `outPath/matches/batch=<id>`, then the
    * batch's own frame postings + df partials stage into the
    * incremental index layout — so the first copy of any content
    * reports no match and every later copy matches the first, with
    * insert cost ∝ batch.
    *
    * Exactly-once follows the staging discipline: matches stage
    * BEFORE the frame append under `_SUCCESS`-guarded batch dirs, so
    * a replayed batch skips completed writes and the index-before for
    * batch N is always exactly batches < N. Same LOCAL-FS contract as
    * the audio path (the `_SUCCESS` guards use `java.io.File`).
    */
  def streamingVideoIngest(videos: DataFrame, outPath: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    import graft.operators.PerceptualHash
    val idxDir = s"$outPath/index"
    val matchDir = s"$outPath/matches"
    val writer = videos.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val b = batch.select(col("media_id"), lit("video").as("kind"),
          col("content"))
        val bMatch = s"$matchDir/batch=$batchId"
        // the frame sample (media decode) dominates per-trigger cost
        // and BOTH derivations need it — the probe's clips and the
        // staged index frames: one persisted sample serves both, and
        // pins them across each derivation's several actions (clip
        // count + join; postings and keydf stage writes)
        val fs = graft.operators.Multimodal
          .frameSample(s, b, PerceptualHash.VideoFrames).persist()
        try {
          if (!new java.io.File(s"$bMatch/_SUCCESS").exists())
            PerceptualHash.matchAgainstVideo(s, idxDir,
                PerceptualHash.ingestClipsSampled(fs))
              .write.mode("overwrite").parquet(bMatch)
          PerceptualHash.stageVideoBatch(s, idxDir,
            PerceptualHash.framesOfSampled(fs), batchId)
        } finally fs.unpersist()
      }
    checkpointLocation.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** Streaming image-ingest matching — the same ContentID shape for
    * the image modality: each micro-batch's images are dHashed and
    * probed against the chunk index accumulated from earlier batches
    * ([[graft.operators.PerceptualHash.probeImages]] — every indexed
    * image within the Hamming radius), verdicts land under
    * `outPath/matches/batch=<id>`, then the batch's chunk postings +
    * df partials stage into the incremental index layout. First copy
    * unmatched, later copies match; insert ∝ batch; `_SUCCESS`-guarded
    * replay; local-FS contract as above.
    */
  def streamingImageIngest(images: DataFrame, outPath: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    import graft.operators.PerceptualHash
    val idxDir = s"$outPath/index"
    val matchDir = s"$outPath/matches"
    val writer = images.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // the dHash kernel feeds the probe AND both stage writes —
        // compute it once per batch
        val h = PerceptualHash.imageHashes(s, batch).persist()
        try {
          val bMatch = s"$matchDir/batch=$batchId"
          if (!new java.io.File(s"$bMatch/_SUCCESS").exists()) {
            // one count on the persisted hash frame primes the cache
            // for both consumers AND feeds the probe's broadcast gate —
            // the probe itself runs no extra action per micro-batch,
            // and a replayed (already-committed) batch pays nothing
            val n = h.count()
            PerceptualHash.probeImages(s, idxDir, h, imageCount = Some(n))
              .write.mode("overwrite").parquet(bMatch)
          }
          PerceptualHash.stageImageBatch(s, idxDir, h, batchId)
        } finally h.unpersist()
      }
    checkpointLocation.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** Streaming incremental media dup-group maintenance: arriving
    * media batches (media_id, content) fold into the persisted group
    * state via [[graft.operators.MediaGroupsInc.ingest]] — delta-
    * headed candidates, appended verified pairs, warm-started closure
    * with exact cap-crossing repair — so the full group labels are
    * current after every micro-batch at delta cost. The stream batch
    * id IS the generation (pinned via `genOverride`), which makes
    * replay safe: every per-generation write inside `ingest` is an
    * overwrite of a gen-scoped dir, so a batch crashed anywhere
    * mid-ingest re-runs into the identical end state, and the marker
    * written AFTER a completed ingest lets clean replays skip the
    * work entirely. Arrival contract as everywhere in this family:
    * media ids ascend across batches (append-only ingest).
    * `compactEvery = Some(n)` folds the accumulated generation debt
    * ([[graft.operators.MediaGroupsInc.compactState]]) after every
    * n-th batch from inside the single writer; a compaction crashed
    * mid-swap resumes before the next ingest.
    */
  def streamingMediaGroups(media: DataFrame, outPath: String,
      threshold: Double = 0.99, maxDf: Int = 64,
      checkpointLocation: Option[String] = None,
      compactEvery: Option[Int] = None): StreamingQuery = {
    val writer = media.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // a compaction the previous run crashed mid-swap must complete
        // before ingest touches the state (ingest refuses otherwise)
        if (graft.operators.MediaGroupsInc.pendingCompact(outPath))
          graft.operators.MediaGroupsInc.compactState(s, outPath)
        val marker = new java.io.File(s"$outPath/ingested/batch-$batchId")
        if (!marker.exists()) {
          graft.operators.MediaGroupsInc.ingest(s, outPath,
            batch.select(col("media_id"), col("content")),
            threshold, maxDf, genOverride = Some(batchId.toInt))
          marker.getParentFile.mkdirs()
          java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
          ()
        }
        // fold the generation debt on the cadence, from inside the
        // single writer (every staged gen is marked by now, so the
        // in-flight guard passes; a replayed batch re-compacts as a
        // no-op)
        compactEvery.foreach { n =>
          if ((batchId + 1) % n == 0)
            graft.operators.MediaGroupsInc.compactState(s, outPath)
        }
      }
    checkpointLocation.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
  }

  /** Run a streaming DataFrame to completion against the bounded
    * source and return the materialized result from a memory sink.
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q: StreamingQuery = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }
}
