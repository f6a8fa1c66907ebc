package graft

import java.sql.Timestamp

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Specs for the Structured Streaming variants. */
class StreamingSpecs extends SparkSuite {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming resample_eav over regular tumbling windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val stream = input.toDF().toDF("ts", "entity", "attr", "v")

    val out = StreamingOps.resampleEavRegular(
      stream, "ts", "entity", "attr", "v",
      watermark = "10 minutes", windowDur = "1 hour")

    val q = out.writeStream.format("memory").queryName("eav_stream")
      .outputMode("update").start()
    try {
      input.addData(
        (ts("2024-01-01 00:10:00"), 1L, "hr", 60.0),
        (ts("2024-01-01 00:40:00"), 1L, "hr", 70.0),
        (ts("2024-01-01 01:10:00"), 1L, "hr", 80.0),
        (ts("2024-01-01 00:20:00"), 2L, "hr", 55.0))
      q.processAllAvailable()
      val rows = spark.table("eav_stream")
        .orderBy("entity", "win_start").collect()
      val r0 = rows.find(r => r.getLong(0) == 1L &&
        r.getAs[Timestamp]("win_start") == ts("2024-01-01 00:00:00")).get
      assert(r0.getAs[Long]("n") == 2L)
      assert(r0.getAs[Double]("v_avg") == 65.0)
      val r1 = rows.find(r => r.getLong(0) == 1L &&
        r.getAs[Timestamp]("win_start") == ts("2024-01-01 01:00:00")).get
      assert(r1.getAs[Double]("v_sum") == 80.0)
    } finally q.stop()
  }

  test("streaming sessionize: gap-based session windows per entity") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val stream = input.toDF().toDF("ts", "entity", "v")

    val out = StreamingOps.sessionize(
      stream, "ts", "entity", "v", gap = "10 minutes", watermark = "1 hour")
    // session windows only support append mode: sessions emit once the
    // watermark passes their end, so a late marker event flushes them
    val q = out.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), 1L, 1.0),
        (ts("2024-01-01 00:05:00"), 1L, 2.0),  // merges (gap < 10m)
        (ts("2024-01-01 00:30:00"), 1L, 4.0),  // new session
        (ts("2024-01-01 00:00:00"), 2L, 8.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 02:00:00"), 3L, 0.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sess_stream")
        .orderBy("entity", "session_start").collect()
      val s1 = rows.filter(_.getLong(0) == 1L)
      assert(s1.length == 2)
      assert(s1(0).getAs[Long]("n_events") == 2L)
      assert(s1(0).getAs[Double]("v_sum") == 3.0)
      assert(s1(1).getAs[Double]("v_sum") == 4.0)
    } finally q.stop()
  }

  test("streaming exact dedup within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val stream = input.toDF().toDF("ts", "key")

    val out = StreamingOps.streamingExactDedup(
      stream, Seq("key"), "ts", watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), "a"),
        (ts("2024-01-01 00:05:00"), "a"),   // dup within watermark
        (ts("2024-01-01 00:10:00"), "b"))
      q.processAllAvailable()
      val keys = spark.table("dedup_stream").select("key")
        .as[String].collect().sorted
      assert(keys.toSeq == Seq("a", "b"))
    } finally q.stop()
  }

  test("streaming points-in-static-intervals join") {
    implicit val sqlCtx = spark.sqlContext
    val intervals = Seq((1L, 0.0, 10.0, "w1"), (1L, 20.0, 30.0, "w2"))
      .toDF("user", "lo", "hi", "name")
    val input = MemoryStream[(Timestamp, Long, Double)]
    val stream = input.toDF().toDF("ts", "user", "p")

    val out = StreamingOps.pointsInStaticIntervals(
      stream, intervals, "p", Seq("user"), "lo", "hi")
    val q = out.writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), 1L, 5.0),
        (ts("2024-01-01 00:00:01"), 1L, 15.0),
        (ts("2024-01-01 00:00:02"), 1L, 25.0))
      q.processAllAvailable()
      val got = spark.table("pii_stream")
        .select(col("p"), col("__graft_i_name")).collect()
        .map(r => r.getDouble(0) -> Option(r.getString(1))).toMap
      assert(got(5.0).contains("w1"))
      assert(got(15.0).isEmpty)
      assert(got(25.0).contains("w2"))
    } finally q.stop()
  }

  test("streaming blackout filter ≡ batch interval anti-join") {
    implicit val sqlCtx = spark.sqlContext
    val intervals = Seq((1L, 0.0, 10.0), (1L, 20.0, 30.0), (2L, 12.0, 18.0))
      .toDF("user", "lo", "hi")
    val input = MemoryStream[(Timestamp, Long, Double)]
    val stream = input.toDF().toDF("ts", "user", "p")
    val out = StreamingOps.pointsNotInStaticIntervals(
      stream, intervals, "p", Seq("user"), "lo", "hi")
    val q = out.writeStream.format("memory").queryName("anti_stream")
      .outputMode("append").start()
    try {
      val rows = Seq(
        (ts("2024-01-01 00:00:00"), 1L, 5.0),   // inside [0,10] → dropped
        (ts("2024-01-01 00:00:01"), 1L, 15.0),  // gap → survives
        (ts("2024-01-01 00:00:02"), 1L, 25.0),  // inside [20,30] → dropped
        (ts("2024-01-01 00:00:03"), 2L, 15.0),  // user 2 blackout → dropped
        (ts("2024-01-01 00:00:04"), 3L, 15.0))  // keyless user → survives
      input.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("anti_stream").select("user", "p")
        .as[(Long, Double)].collect().toSet
      assert(got == Set((1L, 15.0), (3L, 15.0)))
      // ≡ the batch anti-join on the same frames
      val batch = graft.joins.IntervalAntiJoin(
        rows.toDF("ts", "user", "p"), intervals.toDF("b_user", "lo", "hi"),
        leftSpec = graft.core.IntervalSpec.point("p"),
        rightSpec = graft.core.IntervalSpec.closed("lo", "hi"),
        leftOn = Seq("user"), rightOn = Seq("b_user"))
        .select("user", "p").as[(Long, Double)].collect().toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("stream-stream interval containment under watermarks") {
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Long, Int, Timestamp)]
    val iIn = MemoryStream[(Long, Int, Timestamp, Timestamp)]
    val out = StreamingOps.pointsInStreamingIntervals(
      pIn.toDF().toDF("pid", "k", "pt"),
      iIn.toDF().toDF("iid", "k", "start", "stop"),
      pointTime = "pt", startCol = "start", stopCol = "stop",
      on = Seq("k"), watermark = "10 minutes", maxDuration = "1 HOUR")
    val q = out.writeStream.format("memory").queryName("ssj_stream")
      .outputMode("append").start()
    try {
      iIn.addData(
        (100L, 1, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:30:00")),
        (101L, 2, ts("2024-01-01 00:10:00"), ts("2024-01-01 00:20:00")))
      pIn.addData(
        (1L, 1, ts("2024-01-01 00:15:00")), // in 100
        (2L, 1, ts("2024-01-01 00:45:00")), // after 100 stops
        (3L, 2, ts("2024-01-01 00:15:00")), // in 101
        (4L, 2, ts("2024-01-01 00:05:00"))) // before 101 starts
      q.processAllAvailable()
      // push the watermark so inner-join results flush deterministically
      pIn.addData((99L, 9, ts("2024-01-01 03:00:00")))
      iIn.addData((999L, 9, ts("2024-01-01 03:00:00"), ts("2024-01-01 03:01:00")))
      q.processAllAvailable()
      val got = spark.table("ssj_stream").select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 100L), (3L, 101L), (99L, 999L)))
    } finally q.stop()
  }

  test("stream-stream interval overlap under watermarks ≡ batch IntervalJoin") {
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[(Long, Int, Timestamp, Timestamp)]
    val rIn = MemoryStream[(Long, Int, Timestamp, Timestamp)]
    val out = StreamingOps.streamingIntervalOverlap(
      lIn.toDF().toDF("lid", "k", "start", "stop"),
      rIn.toDF().toDF("rid", "k", "start", "stop"),
      startCol = "start", stopCol = "stop", on = Seq("k"),
      watermark = "10 minutes", maxDuration = "1 HOUR")
    val q = out.writeStream.format("memory").queryName("ssov_stream")
      .outputMode("append").start()
    val lRows = Seq(
      (1L, 1, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:30:00")),
      (2L, 1, ts("2024-01-01 00:40:00"), ts("2024-01-01 00:50:00")),
      (3L, 2, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:10:00")),
      // 2h long: exceeds maxDuration -> dropped by contract
      (4L, 1, ts("2024-01-01 00:00:00"), ts("2024-01-01 02:00:00")))
    val rRows = Seq(
      (100L, 1, ts("2024-01-01 00:20:00"), ts("2024-01-01 00:45:00")), // hits 1 and 2
      (101L, 2, ts("2024-01-01 00:10:00"), ts("2024-01-01 00:20:00")), // touches 3 at 00:10
      (102L, 1, ts("2024-01-01 00:55:00"), ts("2024-01-01 00:59:00"))) // no match
    try {
      lIn.addData(lRows: _*)
      rIn.addData(rRows: _*)
      q.processAllAvailable()
      // push both watermarks to flush the inner join deterministically
      lIn.addData((9L, 9, ts("2024-01-01 05:00:00"), ts("2024-01-01 05:01:00")))
      rIn.addData((999L, 8, ts("2024-01-01 05:00:00"), ts("2024-01-01 05:01:00")))
      q.processAllAvailable()
      val got = spark.table("ssov_stream").select("lid", "rid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch oracle: same pairs from the closed-endpoint overlap join,
      // minus the over-long interval the streaming contract drops
      val batch = (for {
        (lid, lk, ls, le) <- lRows if le.getTime - ls.getTime <= 3600 * 1000
        (rid, rk, rs, re) <- rRows
        if lk == rk && !ls.after(re) && !rs.after(le)
      } yield (lid, rid)).toSet
      assert(got == batch && got == Set((1L, 100L), (2L, 100L), (3L, 101L)))
    } finally q.stop()
  }

  test("streaming simhash dedup drops re-sent and near-identical docs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "ts", "text")
    val out = StreamingOps.streamingSimHashDedup(
      stream, "text", "ts", watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("sh_stream")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again"
      input.addData(
        (1L, ts("2024-01-01 00:00:00"), base),
        (2L, ts("2024-01-01 00:01:00"), base),            // exact dup
        (3L, ts("2024-01-01 00:02:00"), "completely different content here"))
      q.processAllAvailable()
      val ids = spark.table("sh_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L))
      // the codegen'd SimHash64 expression ran inside a streaming plan
      assert(spark.table("sh_stream").columns.contains("simhash"))
    } finally q.stop()
  }

  test("simhash gate batch parity: earliest-time row kept per signature, " +
      "deterministic") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      (7L, ts("2024-01-01 00:00:30"), base),  // later arrival, smaller id
      (2L, ts("2024-01-01 00:00:00"), base),  // first arrival wins
      (3L, ts("2024-01-01 00:02:00"), "completely different content here"))
    val batch = rows.toDF("doc_id", "ts", "text")
    val out = StreamingOps.streamingSimHashDedup(
      batch, "text", "ts", watermark = "1 hour")
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // first ARRIVAL (min ts), not min id: doc 2 beats doc 7
    assert(kept == Set(2L, 3L), kept.toString)
    assert(out.columns.contains("simhash"))
  }

  test("streaming media gate drops jittered re-encodes across " +
      "micro-batches; corrupt and non-image rows never pass") {
    import graft.multimodal.Media
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Array[Byte], Timestamp)]
    val stream = input.toDF().toDF("media_id", "kind", "content", "ts")
    val out = StreamingOps.streamingMediaDedup(stream, "ts",
      watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("media_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "image", Media.encodePngJitter(0L, 0, 32, 32), ts("2024-01-01 00:00:00")),
        (2L, "image", Media.encodePng(999L, 0, 32, 32), ts("2024-01-01 00:01:00")),
        (3L, "audio", Media.encodePcm(5L, 64), ts("2024-01-01 00:01:30")))
      q.processAllAvailable()
      // SECOND micro-batch: a jittered re-encode of media 1's picture
      // (different bytes, same aHash) must be suppressed by state
      input.addData(
        (4L, "image", Media.encodePngJitter(0L, 3, 32, 32), ts("2024-01-01 00:02:00")),
        (5L, "image", "corrupt".getBytes, ts("2024-01-01 00:02:30")),
        (6L, "image", Media.encodePng(54321L, 0, 32, 32), ts("2024-01-01 00:03:00")))
      q.processAllAvailable()
      val ids = spark.table("media_stream").select("media_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 6L), ids.toString)
    } finally q.stop()

    // batch parity: earliest-time row kept per fingerprint, and the
    // fingerprint equals the driver-side aHash64 exactly
    val batch = Seq(
      (7L, "image", Media.encodePngJitter(0L, 1, 32, 32), ts("2024-01-01 00:00:30")),
      (2L, "image", Media.encodePngJitter(0L, 4, 32, 32), ts("2024-01-01 00:00:00")),
      (3L, "image", Media.encodePng(999L, 0, 32, 32), ts("2024-01-01 00:02:00")))
      .toDF("media_id", "kind", "content", "ts")
    val kept = StreamingOps.streamingMediaDedup(batch, "ts", "1 hour")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(kept.keySet == Set(2L, 3L), kept.toString) // first arrival wins
    assert(kept(3L) ==
      Media.aHash64("image", Media.encodePng(999L, 0, 32, 32)).get)
  }

  test("streaming video gate collapses identical-pixel re-encodes; " +
      "near-identical (jittered) clips pass -- exact gate by design") {
    import graft.multimodal.Media
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Array[Byte], Timestamp)]
    val stream = input.toDF().toDF("media_id", "kind", "content", "ts")
    val out = StreamingOps.streamingVideoDedup(stream, "ts",
      watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("video_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "video", Media.encodeVideoJitter(2L, 0, 4, 32, 32), ts("2024-01-01 00:00:00")),
        (2L, "video", Media.encodeVideo(77L, 4, 32, 32), ts("2024-01-01 00:01:00")),
        (3L, "audio", Media.encodePcm(5L, 64), ts("2024-01-01 00:01:30")))
      q.processAllAvailable()
      // SECOND micro-batch: media 4 re-encodes media 1's exact pixels
      // (delta 0 -- byte-identical payload would be caught by exact
      // dedup; the gate keys on the DECODED frame hashes, so even a
      // different container encoding of the same pictures collapses);
      // media 5 is a JITTERED near-dup whose sign bits moved -- the
      // exact gate passes it through (min-Hamming near-dup is the
      // batch operator's job)
      input.addData(
        (4L, "video", Media.encodeVideoJitter(2L, 0, 4, 32, 32), ts("2024-01-01 00:02:00")),
        (5L, "video", Media.encodeVideoJitter(2L, 4, 4, 32, 32), ts("2024-01-01 00:02:30")),
        (6L, "video", "corrupt".getBytes, ts("2024-01-01 00:03:00")))
      q.processAllAvailable()
      val ids = spark.table("video_stream").select("media_id")
        .collect().map(_.getLong(0)).toSet
      // 4 collapsed onto 1; 5 kept only if its digest genuinely moved
      val d1 = Media.decodeVideoFrames(
        Media.encodeVideoJitter(2L, 0, 4, 32, 32)).map(Media.pHashImage).sorted
      val d5 = Media.decodeVideoFrames(
        Media.encodeVideoJitter(2L, 4, 4, 32, 32)).map(Media.pHashImage).sorted
      val expect = if (d1 == d5) Set(1L, 2L) else Set(1L, 2L, 5L)
      assert(ids == expect, s"ids=$ids d1==d5: ${d1 == d5}")
    } finally q.stop()

    // batch parity: earliest-time row kept per digest
    val batch = Seq(
      (7L, "video", Media.encodeVideoJitter(2L, 0, 4, 32, 32), ts("2024-01-01 00:00:30")),
      (2L, "video", Media.encodeVideoJitter(2L, 0, 4, 32, 32), ts("2024-01-01 00:00:00")),
      (3L, "video", Media.encodeVideo(77L, 4, 32, 32), ts("2024-01-01 00:02:00")))
      .toDF("media_id", "kind", "content", "ts")
    val kept = StreamingOps.streamingVideoDedup(batch, "ts", "1 hour")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), kept.toString) // first arrival wins
  }

  test("streaming audio gate collapses gain-only re-encodes; boosted " +
      "near-dups pass -- exact gate by design; poison rows quarantine") {
    import graft.multimodal.Media
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Array[Byte], Timestamp)]
    val stream = input.toDF().toDF("media_id", "kind", "content", "ts")
    val out = StreamingOps.streamingAudioDedup(stream, "ts",
      watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("audio_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "audio", Media.encodePcmGain(1L, 1, 1), ts("2024-01-01 00:00:00")),
        (2L, "audio", Media.encodePcmGain(16L, 1, 1), ts("2024-01-01 00:01:00")),
        (3L, "image", Media.encodePng(5L, 0, 8, 8), ts("2024-01-01 00:01:30")))
      q.processAllAvailable()
      // SECOND micro-batch: media 4 is a pure-gain re-encode of media
      // 1's clip (different bytes, same fingerprint — measured
      // planted_max = 0 for gain-only replicas) and must be suppressed
      // by state; media 5 is null content (the ADVICE poison row) and
      // media 6 undecodable — both quarantine without killing the query
      input.addData(
        (4L, "audio", Media.encodePcmGain(1L, 5, 4), ts("2024-01-01 00:02:00")),
        (5L, "audio", null, ts("2024-01-01 00:02:30")),
        (6L, "audio", Array.empty[Byte], ts("2024-01-01 00:03:00")))
      q.processAllAvailable()
      val ids = spark.table("audio_stream").select("media_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L), ids.toString)
    } finally q.stop()

    // batch parity: earliest-time row kept per fingerprint, and the
    // fingerprint equals the driver-side audioHash64 exactly
    val batch = Seq(
      (7L, "audio", Media.encodePcmGain(1L, 9, 8), ts("2024-01-01 00:00:30")),
      (2L, "audio", Media.encodePcmGain(1L, 4, 5), ts("2024-01-01 00:00:00")),
      (3L, "audio", Media.encodePcmGain(16L, 1, 1), ts("2024-01-01 00:02:00")))
      .toDF("media_id", "kind", "content", "ts")
    val kept = StreamingOps.streamingAudioDedup(batch, "ts", "1 hour")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(kept.keySet == Set(2L, 3L), kept.toString) // first arrival wins
    assert(kept(3L) ==
      Media.audioHash64("audio", Media.encodePcmGain(16L, 1, 1)).get)
  }

  test("streaming minhash vs static corpus: matches across micro-batches, " +
      "band hits collapsed, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today ok"),
      (11L, "the quick brown fox jumps over the lazy dog today ok"), // corpus dup of 10
      (12L, "entirely unrelated corpus text about query optimizers")
    ).toDF("doc_id", "text")
    val input = MemoryStream[(Long, Timestamp, String)]
    val stream = input.toDF().toDF("doc_id", "ts", "text")
    val out = StreamingOps.streamingMinHashDedup(
      stream, corpus, "text", "doc_id", "ts", watermark = "1 hour",
      numHashes = 32, numBands = 16, shingleN = 3, threshold = 0.8)
    val q = out.writeStream.format("memory").queryName("mh_stream")
      .outputMode("append").start()
    try {
      // two micro-batches: the dup arrives in the first, a novel doc and
      // a second dup in the second
      input.addData(
        (1L, ts("2024-01-01 00:00:00"),
          "the quick brown fox jumps over the lazy dog today ok"))
      q.processAllAvailable()
      input.addData(
        (2L, ts("2024-01-01 00:05:00"), "novel content matching nothing at all in the corpus"),
        (3L, ts("2024-01-01 00:06:00"),
          "the quick brown fox jumps over the lazy dog today ok"))
      q.processAllAvailable()
      val got = spark.table("mh_stream").select("doc_id", "id_c").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // docs 1 and 3 each match corpus docs 10 AND 11; doc 2 matches
      // nothing; identical docs share all 16 band buckets, so without
      // the pair-collapse each match would appear up to 16×
      assert(got == Set((1L, 10L), (1L, 11L), (3L, 10L), (3L, 11L)))
      val n = spark.table("mh_stream").count()
      assert(n == 4L, s"band hits not collapsed: $n rows")
      // batch parity: the same function on a bounded frame equals the
      // batch incremental operator's pair set
      val batchDf = Seq(
        (1L, ts("2024-01-01 00:00:00"),
          "the quick brown fox jumps over the lazy dog today ok"),
        (2L, ts("2024-01-01 00:05:00"), "novel content matching nothing at all in the corpus"),
        (3L, ts("2024-01-01 00:06:00"),
          "the quick brown fox jumps over the lazy dog today ok"))
        .toDF("doc_id", "ts", "text")
      val viaStream = StreamingOps.streamingMinHashDedup(
        batchDf, corpus, "text", "doc_id", "ts", watermark = "1 hour",
        numHashes = 32, numBands = 16, shingleN = 3, threshold = 0.8)
        .select("doc_id", "id_c").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaBatch = graft.dedup.MinHashDedup.incremental(
        batchDf, corpus, "text", "doc_id",
        numHashes = 32, numBands = 16, shingleN = 3, threshold = 0.8)
        .select("id_b", "id_c").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaStream == got && viaBatch == got)
    } finally q.stop()
  }

  test("streaming semantic gate vs static corpus: IVF-blocked matches " +
      "across micro-batches, full-probe batch parity with brute force") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Seq(0.9f, 0.1f, 0.0f, 0.0f)), // near 10
      (12L, Seq(0.0f, 0.0f, 1.0f, 0.0f))  // far
    ).toDF("vec_id", "v")
    val coarse = graft.similarity.IvfAnn.fit(corpus, "vec_id", "v", nlist = 2)
    val input = MemoryStream[(Long, Timestamp, Seq[Float])]
    val stream = input.toDF().toDF("vec_id", "ts", "v")
    val out = StreamingOps.streamingSemanticDedup(
      stream, corpus, "v", "vec_id", "ts", watermark = "1 hour",
      coarse, nprobe = 2, threshold = 0.95)
    val q = out.writeStream.format("memory").queryName("sem_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 00:00:00"),
        Seq(0.99f, 0.05f, 0.0f, 0.0f))) // near-dup of 10 AND 11
      q.processAllAvailable()
      input.addData(
        (2L, ts("2024-01-01 00:05:00"), Seq(0.0f, 0.0f, 0.99f, 0.1f)), // ≈ 12
        (3L, ts("2024-01-01 00:06:00"), Seq(0.0f, 1.0f, 0.0f, 0.0f)))  // novel
      q.processAllAvailable()
      val got = spark.table("sem_stream").select("vec_id", "id_c").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 10L), (1L, 11L), (2L, 12L)), got.toString)
      // nprobe = nlist probes every cell, so each pair appears exactly
      // once (a corpus vector has ONE cell) — no inflation
      assert(spark.table("sem_stream").count() == 3L)

      // batch parity at full probe: the same function on a bounded frame
      // equals the brute-force cosine threshold join
      val batchDf = Seq(
        (1L, ts("2024-01-01 00:00:00"), Seq(0.99f, 0.05f, 0.0f, 0.0f)),
        (2L, ts("2024-01-01 00:05:00"), Seq(0.0f, 0.0f, 0.99f, 0.1f)),
        (3L, ts("2024-01-01 00:06:00"), Seq(0.0f, 1.0f, 0.0f, 0.0f)))
        .toDF("vec_id", "ts", "v")
      val viaGate = StreamingOps.streamingSemanticDedup(
        batchDf, corpus, "v", "vec_id", "ts", watermark = "1 hour",
        coarse, nprobe = 2, threshold = 0.95)
        .select("vec_id", "id_c").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = batchDf.select(col("vec_id").as("id_s"),
          col("v").cast("array<double>").as("sv"))
        .crossJoin(corpus.select(col("vec_id").as("id_c"),
          col("v").cast("array<double>").as("cv")))
        .filter(graft.similarity.VectorOps
          .cosine(col("sv"), col("cv")) >= 0.95)
        .select("id_s", "id_c").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaGate == got && brute == got)
    } finally q.stop()
  }

  test("streaming as-of against a static side ≡ batch AsOfJoin") {
    implicit val sqlCtx = spark.sqlContext
    // static reference data: per-key (time, value) ticks
    // rt unique per key: batch as-of tie order on duplicate (k, rt) rows
    // is itself sort-order-dependent, which a differential spec can't pin
    val rnd = new scala.util.Random(53)
    val rightRows = (0 until 40).map { i => (i % 4, i.toDouble, s"v$i") }
    val right = rightRows.toDF("k", "rt", "name")
    val leftRows = (0 until 60).map { i => (i.toLong, i % 4, rnd.nextInt(50).toDouble - 3) }

    for (dir <- Seq("backward", "forward"); tol <- Seq(None, Some(5.0))) {
      val input = MemoryStream[(Long, Int, Double)]
      val stream = input.toDF().toDF("lid", "k", "t")
      val out = StreamingOps.asOfStatic(
        stream, right, "t", "rt", on = Seq("k"),
        direction = dir, tolerance = tol.map(lit))
      val qn = s"asof_${dir}_${tol.isDefined}"
      val q = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try {
        input.addData(leftRows: _*)
        q.processAllAvailable()
        val got = spark.table(qn)
          .select(col("lid"), col("name")).collect()
          .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
        val want = graft.joins.AsOfJoin(
          leftRows.toDF("lid", "k", "t"), right, "t", "rt",
          on = Seq("k"), direction = dir, tolerance = tol.map(lit))
          .select(col("lid"), col("name")).collect()
          .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
        assert(got == want, s"dir=$dir tol=$tol")
        assert(got.size == leftRows.size)
      } finally q.stop()
    }
  }

  test("per-row curation ops run unchanged on streams (scrub)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // the batch operator applies verbatim: stateless projections need no
    // watermark, no state store, no streaming-specific variant
    val out = graft.text.Scrub(input.toDF().toDF("id", "text"), "text")
    val q = out.writeStream.format("memory").queryName("scrub_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, "mail a@b.co now"), (2L, "nothing here"))
      q.processAllAvailable()
      val rows = spark.table("scrub_stream").orderBy("id").collect()
      assert(rows(0).getAs[String]("scrubbed") == "mail <EMAIL> now")
      assert(rows(0).getAs[Int]("n_email") == 1)
      assert(rows(1).getAs[String]("scrubbed") == "nothing here")
    } finally q.stop()
  }

  test("linear scorer gates a stream (stateless classifier projection)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Long, String)]
    val model = graft.text.LinearScorer.Model(
      weights = IndexedSeq.fill(16)(0L), bias = 7L, seed = 1L)
    // zero weights ⇒ every doc scores exactly bias: the spec pins that
    // the fold + md5 bucket hash run verbatim in a streaming plan (no
    // state store, no watermark), not the numeric surface
    val out = graft.text.LinearScorer.score(
      input.toDF().toDF("id", "text"), "text", model)
    val q = out.writeStream.format("memory").queryName("lin_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, "keep me"), (2L, "also kept"))
      q.processAllAvailable()
      val rows = spark.table("lin_stream").orderBy("id").collect()
      assert(rows.map(_.getAs[Long]("score_fp")).toSeq == Seq(7L, 7L))
      assert(rows.map(_.getAs[Long]("n_feats")).toSeq == Seq(3L, 3L))
    } finally q.stop()
  }

  test("bloom prefilter runs unchanged on streams (stateless probe)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // filter built ONCE from a static reference side; the probe is a pure
    // projection-level filter — no watermark, no state store, so the
    // decontamination/routing gate applies verbatim to a stream
    val smallStatic = Seq(10L, 20L, 30L).toDF("sk")
    val input = MemoryStream[(Long, Long)]
    val out = graft.joins.BloomPrune.prefilter(
      input.toDF().toDF("id", "k"), smallStatic, "k", "sk", fpp = 0.001)
    val q = out.writeStream.format("memory").queryName("bloom_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, 10L), (2L, 99L), (3L, 30L), (4L, 77L))
      q.processAllAvailable()
      val kept = spark.table("bloom_stream").select("id").collect()
        .map(_.getLong(0)).toSet
      assert(Set(1L, 3L).subsetOf(kept), "true matches must survive")
      // at fpp=0.001 over 2 non-members a false positive is ~never; if one
      // sneaks in the assertion below still only demands the filter did cut
      assert(kept.size <= 3, "prefilter did not filter the stream")
    } finally q.stop()
  }

  test("trending tokens: stateful per-window top-k, emitted once on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val out = StreamingOps.trendingTokens(
      input.toDF().toDF("ts", "text"), "ts", "text",
      windowMillis = 60_000L, k = 2, watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("trend_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:10"), "apple apple banana"),
        (ts("2024-01-01 00:00:30"), "apple cherry cherry banana"))
      q.processAllAvailable()
      assert(spark.table("trend_stream").isEmpty) // window still open
      // advance the watermark past the window end -> ranking flushes
      input.addData((ts("2024-01-01 00:05:00"), "later"))
      q.processAllAvailable()
      val rows = spark.table("trend_stream")
        .filter(col("window_start") === ts("2024-01-01 00:00:00"))
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getInt(3)))
      // apple 3, banana/cherry 2 each -> banana wins the tie lexically
      assert(rows.toSeq == Seq(("apple", 3L, 1), ("banana", 2L, 2)))
    } finally q.stop()
  }

  test("int8 quantization runs unchanged on streams") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val out = graft.similarity.Quantize.int8(
      input.toDF().toDF("id", "vec"), "vec")
    val q = out.writeStream.format("memory").queryName("q8_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, Array(0.5f, -1.0f)), (2L, Array(0.0f, 0.0f)))
      q.processAllAvailable()
      val rows = spark.table("q8_stream").orderBy("id").collect()
      assert(rows(0).getSeq[Byte](rows(0).fieldIndex("q8")) == Seq[Byte](64, -127))
      assert(rows(1).getSeq[Byte](rows(1).fieldIndex("q8")) == Seq[Byte](0, 0))
    } finally q.stop()
  }

  test("chunker and split assignment run unchanged on streams") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // both are stateless projections/generators: no watermark, no state
    val out = graft.sample.Sampling.assignSplit(
      graft.text.Chunker.chunk(input.toDF().toDF("id", "text"),
        "text", size = 5, overlap = 2),
      idCol = "id", weights = Seq(0.5, 0.5), seed = 3L)
    val q = out.writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, "abcdefg"), (2L, ""))
      q.processAllAvailable()
      val rows = spark.table("chunk_stream").orderBy("id", "chunk_id").collect()
      assert(rows.map(r => r.getString(r.fieldIndex("chunk"))).toSeq ==
        Seq("abcde", "defg"))
      assert(rows.forall(r => Set(0, 1)(r.getInt(r.fieldIndex("split")))))
    } finally q.stop()
  }

  test("streaming contamination gate ≡ batch Contamination.check") {
    implicit val sqlCtx = spark.sqlContext
    import graft.text.Contamination
    val evalDf = Seq("alpha beta gamma delta", "omega psi chi phi")
      .toDF("text")
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon"), // contains eval 4-grams
      (1L, "completely unrelated words here today"),
      (2L, "x omega psi chi phi y"),
      (3L, "ab")) // fewer than n tokens -> one short gram
      .map { case (i, t) => (i, t) }
    val keys = Contamination.evalGramKeys(evalDf, "text", n = 4)

    val batch = Contamination.check(
      corpus.toDF("id", "text"), evalDf, "id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val perRow = Contamination.perRow(
      corpus.toDF("id", "text"), "text", keys, n = 4)
      .select("id", "n_grams", "n_contaminated", "contamination_frac")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(perRow == batch)
    assert(batch(0L)._2 > 0 && batch(1L)._2 == 0)

    // and unchanged on a stream: pure projection, no state store
    val input = MemoryStream[(Long, String)]
    val out = Contamination.perRow(
      input.toDF().toDF("id", "text"), "text", keys, n = 4)
    val q = out.writeStream.format("memory").queryName("contam_stream")
      .outputMode("append").start()
    try {
      corpus.foreach(input.addData(_))
      q.processAllAvailable()
      val streamed = spark.table("contam_stream")
        .select("id", "n_grams", "n_contaminated", "contamination_frac")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming quota sample: admits until quota per stratum, then drops forever") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("id", "lang")

    val out = StreamingOps.streamingQuotaSample(stream, "lang", quota = 3L)
    val q = out.writeStream.format("memory").queryName("quota_stream")
      .outputMode("append").start()
    try {
      // batch 1: en over quota, de under
      input.addData((1L, "en"), (2L, "en"), (3L, "en"), (4L, "en"),
        (5L, "de"))
      q.processAllAvailable()
      val b1 = spark.table("quota_stream").collect()
        .groupBy(_.getString(1)).view.mapValues(_.length).toMap
      assert(b1 == Map("en" -> 3, "de" -> 1))
      // batch 2: en is full (nothing admitted); de tops up to 3 and caps
      input.addData((6L, "en"), (7L, "de"), (8L, "de"), (9L, "de"))
      q.processAllAvailable()
      val b2 = spark.table("quota_stream").collect()
        .groupBy(_.getString(1)).view.mapValues(_.length).toMap
      assert(b2 == Map("en" -> 3, "de" -> 3))
      // emitted rows are real input rows
      val ids = spark.table("quota_stream").collect().map(_.getLong(0)).toSet
      assert(ids.subsetOf((1L to 9L).toSet) && ids.size == 6)
    } finally q.stop()
  }
}
