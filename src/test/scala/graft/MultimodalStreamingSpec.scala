package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{EventsQueries, Multimodal}
import graft.streaming.EventStream

class MultimodalStreamingSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("media table carries binary payloads with typed metadata") {
    val meta = Multimodal.extractMeta(spark, Multimodal.mediaTable(spark, sf)).collect()
    assert(meta.nonEmpty)
    meta.foreach { m =>
      assert(Seq("image", "audio", "video").contains(m.kind))
      assert(m.n_bytes > 0 && m.width >= 64 && m.height >= 64)
    }
    // deterministic: re-extracting yields identical checksums
    val again = Multimodal.extractMeta(spark, Multimodal.mediaTable(spark, sf))
      .collect().map(m => m.media_id -> m.checksum).toMap
    meta.foreach(m => assert(again(m.media_id) == m.checksum))
  }

  test("frameSample splits payloads losslessly") {
    val media = Multimodal.mediaTable(spark, sf)
    val frames = Multimodal.frameSample(spark, media)
    val back = frames.groupBy("media_id").agg(sum("frame_bytes").as("total"))
    val orig = media.select(col("media_id"), length(col("content")).cast("long").as("total"))
    assert(back.except(orig).count() == 0 && orig.except(back).count() == 0)
    assert(frames.agg(max("frame_idx")).collect()(0).getInt(0) <= 3)
  }

  test("byteHistogram features are normalized and find planted near-dup docs") {
    val hist = Multimodal.byteHistogram(spark, Multimodal.mediaTable(spark, sf))
    hist.collect().foreach { r =>
      val sum = r.getSeq[Double](1).sum
      assert(math.abs(sum - 1.0) < 1e-9, s"histogram not normalized: $sum")
    }
    val dups = Multimodal.mediaNearDups(spark, sf, threshold = 0.999)
    assert(dups.count() > 0, "expected near-dup media from planted near-dup texts")
  }

  test("mediaNearDups candidate stage: sound vs exact shared-anchor recount, full recall on identical anchor sets") {
    // a DuckDB oracle is impossible here — Spark's xxhash64 over BINARY
    // (seed 42, over Spark's internal byte encoding) has no DuckDB
    // equivalent, so the anchor set can't be reproduced engine-side.
    // Instead the candidate stage is verified against a Spark-side
    // EXACT recount: a plain distinct equi-join on shared anchors
    // (deterministic, no LSH) bounds the LSH candidates both ways.
    import graft.operators.Dedup
    val media = Multimodal.mediaTable(spark, sf)
    val anchors = Multimodal.binaryAnchors(media) // (doc_id, sh)
    val cands = Dedup.lshCandidates(Dedup.minhashSignatures(anchors))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact recount: every pair sharing >=1 anchor (test-only exact join)
    val a = anchors.select(col("doc_id").as("doc_a"), col("sh"))
    val b = anchors.select(col("doc_id").as("doc_b"), col("sh"))
    val shared = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sharedSet = shared.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.nonEmpty, "testdata should produce candidate media pairs")
    // soundness: a band hash can only collide when the 3 minhashes
    // agree, which (mod 2^-64 hash collisions) needs shared anchors
    assert(cands.subsetOf(sharedSet),
      s"LSH invented pairs with no shared anchor: ${cands.diff(sharedSet).take(5)}")
    // recall: identical anchor sets give identical signatures, hence
    // identical band hashes — such pairs can NEVER be missed
    val identical = Dedup.verifyJaccard(shared, anchors, 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(identical.nonEmpty, "planted dups should share full anchor sets")
    assert(identical.subsetOf(cands),
      s"LSH missed identical-anchor pairs: ${identical.diff(cands).take(5)}")
  }

  test("streaming hourly counts equal the batch result") {
    val streaming = EventStream.runToMemory(spark,
      EventStream.hourlyCounts(EventStream.readEvents(spark, sf)), "stream_hourly")
      .select("event_date", "event_hour", "event_type", "n_events", "sum_value")
    val batch = EventsQueries.hourlyCounts(spark, sf)
    assert(streaming.count() == batch.count())
    assert(streaming.except(batch).count() == 0 && batch.except(streaming).count() == 0)
  }

  test("streaming sessionization equals the batch session counts") {
    import spark.implicits._
    val streamed = EventStream.runToMemory(spark,
      EventStream.sessionize(spark, EventStream.readEvents(spark, sf))
        .toDF("user_id", "n_sessions", "n_events"),
      "stream_sessions", OutputMode.Update())
    // last update per user is the final session/event count
    val last = streamed.groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))
    val batch = EventsQueries.sessionCounts(spark, sf)
    assert(last.except(batch).count() == 0 && batch.except(last).count() == 0)
  }

  test("streaming dedup equals the batch canonical map") {
    import spark.implicits._
    val streamed = EventStream.runToMemory(spark,
      EventStream.streamingDedup(spark, EventStream.readDocuments(spark, sf))
        .toDF("doc_id", "canonical_id", "is_duplicate"),
      "stream_dedup", OutputMode.Update())
    val batch = graft.operators.Dedup.canonicalMap(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("streaming quality funnel equals the same gates applied in batch") {
    val streamed = EventStream.runToMemory(spark,
      EventStream.streamingQualityFunnel(EventStream.readDocuments(spark, sf)),
      "stream_funnel", OutputMode.Complete())
    // batch reference: identical gate expressions over the static table
    val batch = EventStream.streamingQualityFunnel(
      graft.Tables.load(spark, sf, "documents"))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("stream-stream click->purchase attribution equals the batch range join") {
    val streamed = EventStream.runToMemory(spark,
      EventStream.clickPurchaseAttribution(EventStream.readEvents(spark, sf)),
      "stream_attr", OutputMode.Append())
    // batch reference: identical filters + plain range join on the
    // static table
    val ev = Tables.load(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("click_value"))
    val batch = p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1800 SECONDS"))
      .select(col("purchase_id"), col("user_id"), col("p_ts"), col("c_ts"),
        col("purchase_value"), col("click_value"))
    assert(batch.count() > 0, "testdata should contain attributable purchases")
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("stream-static segment enrichment equals the batch left join; unmatched events survive") {
    val dim = Tables.load(spark, sf, "customer")
    val streamed = EventStream.runToMemory(spark,
      EventStream.enrichWithSegment(EventStream.readEvents(spark, sf), dim),
      "stream_enrich", OutputMode.Append())
    val ev = Tables.load(spark, sf, "events")
    val batch = ev.join(dim.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("c_mktsegment").as("segment"))
    assert(streamed.count() == ev.count(), "enrichment must not drop events")
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
  }

  test("dropDuplicatesWithinWatermark: suppresses within horizon, re-emits after eviction") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val events = in.toDF()
      .select(col("_1").as("event_id"), timestamp_seconds(col("_2")).as("ts"))
    val q = EventStream.dedupEventsWithinWatermark(events, delay = "30 seconds")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_dedup_wm").start()
    try {
      // same-batch duplicate: one survivor
      in.addData((1L, 1000L), (2L, 1010L), (1L, 1000L))
      q.processAllAvailable()
      // cross-batch duplicate within the 30 s horizon: suppressed
      in.addData((1L, 1001L))
      q.processAllAvailable()
      // far-future event advances the watermark and evicts ids 1, 2
      in.addData((3L, 20000L))
      q.processAllAvailable()
      // id 1 reappears after eviction: re-emitted (the horizon IS the
      // dedup guarantee — unlike dropDuplicates, state does not grow
      // with every id ever seen)
      in.addData((1L, 20010L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_dedup_wm").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L)).toSet
    assert(got == Set((1L, 1000L), (2L, 1010L), (3L, 20000L), (1L, 20010L)),
      s"got $got")
  }

  test("sessionize TTL evicts idle users; a reappearing user restarts from zero") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def run(name: String, ttl: Option[Long]): Set[(Long, Long, Long)] = {
      val in = MemoryStream[(Long, Long)]
      val events = in.toDF()
        .select(col("_1").as("user_id"), timestamp_seconds(col("_2")).as("ts"))
      val q = EventStream.sessionize(spark, events, stateTtlSec = ttl)
        .toDF("user_id", "n_sessions", "n_events")
        .writeStream.outputMode("update").format("memory").queryName(name).start()
      try {
        in.addData((1L, 1000L)); q.processAllAvailable()
        // another user advances the event-time watermark far past
        // user 1's TTL horizon (1000 + 3600); the NEXT batch's timeout
        // sweep then evicts user 1
        in.addData((2L, 10000L)); q.processAllAvailable()
        in.addData((2L, 10001L)); q.processAllAvailable()
        // user 1 reappears: two events in one session
        in.addData((1L, 20000L), (1L, 20010L)); q.processAllAvailable()
      } finally q.stop()
      spark.table(name).as[(Long, Long, Long)].collect().toSet
    }

    // with TTL: state was evicted, so the reappearance is a fresh epoch
    // (1 session, 2 events); lifetime totals are per-epoch sums downstream
    val evicted = run("evict_sessions", Some(3600L))
    assert(evicted.contains((1L, 1L, 2L)), s"fresh-epoch row missing: $evicted")
    assert(!evicted.contains((1L, 2L, 3L)), s"evicted state leaked through: $evicted")
    // without TTL the same feed keeps lifetime state: gap > 30 min makes
    // it session 2, event 3 — the differential proving eviction happened
    val forever = run("noevict_sessions", None)
    assert(forever.contains((1L, 2L, 3L)), s"lifetime row missing: $forever")
  }

  test("streamingDedup TTL: a duplicate arriving after eviction is crowned canonical") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = EventStream.streamingDedup(spark, docs, stateTtlMs = Some(50L))
      .toDF("doc_id", "canonical_id", "is_duplicate")
      .writeStream.outputMode("update").format("memory").queryName("evict_dedup").start()
    // ProcessingTimeTimeout keeps the engine triggering no-data batches
    // while any timeout is armed, so `processAllAvailable` never sees a
    // quiescent stream — poll the sink for the expected row instead
    def await(cond: => Boolean, what: String): Unit = {
      val t0 = System.currentTimeMillis
      while (!cond && System.currentTimeMillis - t0 < 30000) Thread.sleep(50)
      assert(cond, s"timed out waiting for $what: " +
        spark.table("evict_dedup").collect().toSeq)
    }
    def rows: Set[(Long, Long, Long)] =
      spark.table("evict_dedup").as[(Long, Long, Long)].collect().toSet
    try {
      in.addData((5L, "alpha beta gamma"))
      await(rows.contains((5L, 5L, 0L)), "doc 5 canonical")
      Thread.sleep(300) // exceed the 50 ms TTL; the timeout sweep evicts the fp
      in.addData((7L, "something else entirely"))
      await(rows.contains((7L, 7L, 0L)), "doc 7 canonical")
      Thread.sleep(300) // doc 7's own fp TTL passes too
      // same content as doc 5 reappears after eviction: the dedup
      // horizon has passed, so it is canonical again, NOT a duplicate
      in.addData((9L, "alpha beta gamma"))
      await(rows.exists(_._1 == 9L), "doc 9 processed")
    } finally q.stop()
    assert(rows.contains((9L, 9L, 0L)), s"post-eviction reappearance not canonical: $rows")
    assert(!rows.contains((9L, 5L, 1L)), s"evicted fingerprint still deduped: $rows")
  }

  test("stateful per-user running counts match batch group counts") {
    import spark.implicits._
    val streamed = EventStream.runToMemory(spark,
      EventStream.userRunningCounts(spark, EventStream.readEvents(spark, sf)).toDF("user_id", "n"),
      "stream_users", OutputMode.Update())
    // last update per user == total batch count
    val last = streamed.groupBy("user_id").agg(max("n").as("n"))
    val batch = graft.Tables.load(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    assert(last.except(batch).count() == 0 && batch.except(last).count() == 0)
  }

  test("transformWithState running counts equal the mapGroupsWithState/batch semantics") {
    import spark.implicits._
    // the new-API path requires the RocksDB state store; scope the
    // provider switch to this query and restore the default after
    withConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val streamed = EventStream.runToMemory(spark,
        EventStream.userRunningCountsTws(spark, EventStream.readEvents(spark, sf))
          .toDF("user_id", "n"),
        "stream_users_tws", OutputMode.Update())
      val last = streamed.groupBy("user_id").agg(max("n").as("n"))
      val batch = graft.Tables.load(spark, sf, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      assert(last.except(batch).count() == 0 && batch.except(last).count() == 0)
    }
  }
}
