package graft.streaming

import graft.SparkSpec
import graft.cdc.{ChangeGen, Compaction, Envelope}
import graft.sources.BothLookupPaths
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming CDC parity: MemoryStream-fed micro-batches through the
  * foreachBatch upsert sink must converge to the same snapshot as one-shot
  * batch compaction over the same events — the streaming/batch duality the
  * engine promises (SURVEY.md §7 step 4).
  */
class StreamingSpec extends SparkSpec with BothLookupPaths {
  import spark.implicits._

  private def env(op: String, id: Long, name: String, ts: Long): String = {
    val row = s"""{"id":$id,"name":"$name","nationkey":1,"acctbal":10.0,"mktsegment":"X"}"""
    val before = if (op == "d") row else "null"
    val after = if (op == "d") "null" else row
    s"""{"schema":null,"payload":{"before":$before,"after":$after,"source":{"table":"customers","lsn":$ts},"op":"$op","ts_ms":$ts}}"""
  }

  testBothLookups("foreachBatch upsert across micro-batches == batch compaction") {
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-cdc-stream").toString
    val snapDir = s"$tmp/snapshot"
    val ckDir = s"$tmp/checkpoint"

    val stream = MemoryStream[String]
    val q = CdcStream.runBucketed(stream.toDF(), snapDir, ckDir,
      nBuckets = 8, trigger = Trigger.ProcessingTime(0))

    val batch1 = Seq(
      env("c", 1, "a1", 100), env("c", 2, "b1", 110), env("c", 3, "c1", 120))
    val batch2 = Seq(
      env("u", 1, "a2", 200), env("d", 2, "b1", 210), env("c", 4, "d1", 220))
    stream.addData(batch1: _*)
    q.processAllAvailable()
    stream.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = CdcStream.readSnapshotBucketed(spark, snapDir).get
      .select($"id", $"name").as[(Long, String)].collect().toMap
    val batch = Compaction.latestState(
      Envelope.decode((batch1 ++ batch2).toDF("value")))
      .select($"id", $"name").as[(Long, String)].collect().toMap
    assert(streamed == batch)
    assert(streamed == Map(1L -> "a2", 3L -> "c1", 4L -> "d1"))
  }

  testBothLookups("bucketed incremental sink == full-rewrite sink; untouched buckets not rewritten") {
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-cdc-bkt").toString
    val snapDir = s"$tmp/snapshot"
    val ckDir = s"$tmp/checkpoint"

    val stream = MemoryStream[String]
    val q = CdcStream.runBucketed(stream.toDF(), snapDir, ckDir, nBuckets = 8,
      trigger = Trigger.ProcessingTime(0))

    // batch 1: a spread of keys across many buckets
    val batch1 = (1L to 40L).map(i => env("c", i, s"n$i", 100 + i))
    stream.addData(batch1: _*)
    q.processAllAvailable()

    // record per-bucket file listings, then apply a batch touching ONE key
    def bucketFiles(): Map[String, Set[String]] =
      new java.io.File(snapDir, DualSink.SnapshotTable).listFiles()
        .filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().map(f => f.getName + ":" + f.lastModified()).toSet)
        .toMap
    val before = bucketFiles()
    val batch2 = Seq(env("u", 7, "n7b", 500), env("d", 13, "n13", 510))
    stream.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()

    val after = bucketFiles()
    // buckets not containing keys 7 or 13 must be byte-identical (not rewritten)
    val changedNames = after.keySet.filter(b => before.get(b) != after.get(b))
    assert(changedNames.size <= 2, s"rewrote too many buckets: $changedNames")
    // bucket/partition alignment: each bucket dir holds exactly one data
    // file — the merge's repartition doubles as the physical clustering
    after.foreach { case (b, files) =>
      val parts = files.map(_.split(":")(0)).filter(_.endsWith(".parquet"))
      assert(parts.size == 1, s"$b has ${parts.size} files: $parts")
    }

    // final state parity with a full recompute (batch compaction) over
    // the same batches
    val full = Compaction.latestState(
      Envelope.decode((batch1 ++ batch2).toDF("value")))
      .select($"id", $"name").as[(Long, String)].collect().toMap
    val got = CdcStream.readSnapshotBucketed(spark, snapDir).get
      .select($"id", $"name").as[(Long, String)].collect().toMap
    assert(got == full)
    assert(got(7L) == "n7b" && !got.contains(13L))
  }

  testBothLookups("bucketed sink resumes from checkpoint after restart without duplication") {
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-cdc-restart").toString
    val snapDir = s"$tmp/snapshot"
    val ckDir = s"$tmp/checkpoint"

    // first query instance: two keys
    val s1 = MemoryStream[String]
    val q1 = CdcStream.runBucketed(s1.toDF(), snapDir, ckDir, nBuckets = 8,
      trigger = Trigger.ProcessingTime(0))
    s1.addData(env("c", 1, "a1", 100), env("c", 2, "b1", 110))
    q1.processAllAvailable()
    q1.stop()

    // second query instance on the SAME checkpoint and source (offsets
    // continue): an update and a new key. The recorded offsets must not
    // be replayed — no duplication, nothing resurrected.
    val q2 = CdcStream.runBucketed(s1.toDF(), snapDir, ckDir, nBuckets = 8,
      trigger = Trigger.ProcessingTime(0))
    s1.addData(env("u", 1, "a2", 200), env("c", 3, "c1", 210))
    q2.processAllAvailable()
    q2.stop()

    val got = CdcStream.readSnapshotBucketed(spark, snapDir).get
      .select($"id", $"name").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))
  }

  testBothLookups("bucketed sink clears a bucket whose last key is deleted") {
    val tmp = Files.createTempDirectory("graft-cdc-bkt2").toString
    val snapDir = s"$tmp/snapshot"
    // single key -> single bucket; then delete it
    val b1 = Envelope.decode(Seq(env("c", 99, "x", 10)).toDF("value"))
    CdcStream.upsertBatchBucketed(spark, snapDir, nBuckets = 8)(b1, 0L)
    assert(CdcStream.readSnapshotBucketed(spark, snapDir).get.count() == 1)
    val b2 = Envelope.decode(Seq(env("d", 99, "x", 20)).toDF("value"))
    CdcStream.upsertBatchBucketed(spark, snapDir, nBuckets = 8)(b2, 1L)
    val remaining = new java.io.File(snapDir, DualSink.SnapshotTable).listFiles()
      .filter(_.getName.startsWith("bucket="))
    assert(remaining.isEmpty, remaining.map(_.getName).mkString(","))
  }

  testBothLookups("snapshot-seeded stream: generated events replayed in two halves") {
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-cdc-stream2").toString
    val events = ChangeGen.changeEvents(spark, sfDir)
      .filter(col("value").isNotNull) // MemoryStream can't carry null values
      .select("value").as[String].collect().toSeq
    val (h1, h2) = events.splitAt(events.size / 2)

    val stream = MemoryStream[String]
    val q = CdcStream.runBucketed(stream.toDF(), s"$tmp/snap", s"$tmp/ck",
      nBuckets = 8, trigger = Trigger.ProcessingTime(0))
    stream.addData(h1: _*); q.processAllAvailable()
    stream.addData(h2: _*); q.processAllAvailable()
    q.stop()

    val streamed = CdcStream.readSnapshotBucketed(spark, s"$tmp/snap").get.count()
    val batch = Compaction.latestState(
      Envelope.decode(ChangeGen.changeEvents(spark, sfDir))).count()
    assert(streamed == batch)
  }

  test("event-time windows: tumbling counts with watermark over MemoryStream") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = stream.toDF().toDF("ts", "event_type", "value")
    val out = EventStreams.tumblingCounts(events, watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("tumbling")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    stream.addData((ts(1), "click", 1.0), (ts(4), "click", 2.0), (ts(11), "view", 3.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first windows
    stream.addData((ts(59), "click", 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tumbling")
      .select($"w_start", $"event_type", $"n").as[(java.sql.Timestamp, String, Long)]
      .collect().toSet
    assert(rows.contains((java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L)))
    assert(rows.contains((java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), "view", 1L)))
  }

  testBothLookups("two concurrent streaming queries on one session (O1 parity, main.py:12-31)") {
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-concurrent").toString
    val cdcStream = MemoryStream[String]
    val evStream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q1 = CdcStream.runBucketed(cdcStream.toDF(), s"$tmp/snap", s"$tmp/ck",
      nBuckets = 8, trigger = Trigger.ProcessingTime(0))
    val q2 = EventStreams.tumblingCounts(
        evStream.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("conc_windows")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    // the reference forks consumer+generator as two processes; here both
    // queries share one session and the scheduler interleaves them
    cdcStream.addData(env("c", 1, "a", 100), env("c", 2, "b", 110))
    evStream.addData((java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "click", 1.0))
    q1.processAllAvailable(); q2.processAllAvailable()
    assert(spark.streams.active.map(_.id).toSet.size >= 2)
    q1.stop(); q2.stop()
    assert(CdcStream.readSnapshotBucketed(spark, s"$tmp/snap").get.count() == 2)
  }

  test("watermark drops late data beyond the horizon") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = stream.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.tumblingCounts(events, watermark = "10 minutes")
      .writeStream.format("memory").queryName("late_drop")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    stream.addData((ts(10, 1), "click", 1.0))
    q.processAllAvailable()
    // advance event time far past the first window + watermark
    stream.addData((ts(11, 0), "click", 1.0))
    q.processAllAvailable()
    // now send an event for the long-closed 10:00 window — must be dropped
    stream.addData((ts(10, 2), "click", 99.0))
    q.processAllAvailable()
    stream.addData((ts(12, 0), "click", 1.0)) // flush
    q.processAllAvailable()
    q.stop()
    val w10 = spark.table("late_drop")
      .filter($"w_start" === java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))
      .select($"n").as[Long].collect()
    assert(w10.toSeq == Seq(1L), s"late event must not reopen the window: ${w10.toSeq}")
  }

  test("streaming dedup within watermark drops re-sent event ids") {
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, Long)]
    val events = stream.toDF().toDF("ts", "event_id")
    val q = EventStreams.dedupWithinWatermark(events)
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    stream.addData((t0, 1L), (t0, 2L), (t0, 1L))
    q.processAllAvailable()
    stream.addData((t0, 2L), (t0, 3L))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup").select($"event_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L))
  }

  test("stream-stream interval join == batch dual on the same events") {
    implicit val sc = spark.sqlContext
    val vs = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val cs = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    def df(m: MemoryStream[(Long, java.sql.Timestamp, Long, String)]) =
      m.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val out = EventStreams.viewClickJoin(df(vs), df(cs))
    val q = out.writeStream.format("memory").queryName("vcjoin")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: views at :01 and :05, click at :08 -> both views attach;
    // view at :30 is AFTER the click -> no match; user 2's view never
    // matches user 1's click
    vs.addData((101L, ts(1), 1L, "view"), (102L, ts(5), 1L, "view"),
      (201L, ts(2), 2L, "view"))
    cs.addData((900L, ts(8), 1L, "click"))
    q.processAllAvailable()
    vs.addData((103L, ts(30), 1L, "view"))
    cs.addData((901L, ts(31), 1L, "click")) // matches only view 103
    q.processAllAvailable()
    q.stop()
    val got = spark.table("vcjoin")
      .select($"click_id", $"view_id").as[(Long, Long)].collect().toSet
    assert(got == Set((900L, 101L), (900L, 102L), (901L, 103L)))
  }

  test("stream-stream LEFT OUTER join: unmatched clicks emit null-padded after watermark") {
    implicit val sc = spark.sqlContext
    val vs = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val cs = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    def df(m: MemoryStream[(Long, java.sql.Timestamp, Long, String)]) =
      m.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val out = EventStreams.viewClickJoinLeftOuter(df(vs), df(cs))
    val q = out.writeStream.format("memory").queryName("vcouter")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1 clicks at :08 with a view at :05 (matched); user 2 clicks at
    // :09 with NO view in range (view at :02 for user 2 missing) -> must
    // eventually surface null-padded, but only after the view-side
    // watermark passes :09+10min+30min slack.
    vs.addData((101L, ts(5), 1L, "view"))
    cs.addData((900L, ts(8), 1L, "click"), (901L, ts(9), 2L, "click"))
    q.processAllAvailable()
    val early = spark.table("vcouter")
      .select($"click_id", $"view_id").as[(Long, Option[Long])].collect().toSet
    // matched row may emit immediately; the unmatched click must NOT have
    // been emitted yet (watermark hasn't proven absence)
    assert(early.contains((900L, Some(101L))))
    assert(!early.exists(r => r._1 == 901L))
    // advance both watermarks far past the horizon -> null-padded emission
    vs.addData((102L, ts(59), 9L, "view"))
    cs.addData((999L, ts(59), 9L, "click"))
    q.processAllAvailable()
    // one more cycle so the watermark computed from batch N's data evicts
    // state in batch N+1
    vs.addData((103L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 9L, "view"))
    cs.addData((998L, java.sql.Timestamp.valueOf("2024-01-01 12:01:00"), 9L, "click"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("vcouter")
      .select($"click_id", $"view_id").as[(Long, Option[Long])].collect().toSet
    assert(got.contains((901L, None)), s"unmatched click not null-emitted: $got")
    assert(got.contains((900L, Some(101L))))
  }

  test("streaming session windows: gap merge across micro-batches == batch dual") {
    implicit val sc = spark.sqlContext
    val es = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val events = es.toDF().toDF("event_id", "ts", "user_id", "event_type")
    val out = EventStreams.sessionCounts(events, gap = "30 minutes")
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // user 1: events at 10:00 and 10:20 arrive in DIFFERENT micro-batches
    // but fall in one session (gap 30m) -> the session-window state must
    // merge across batches; a second session starts at 12:00.
    es.addData((1L, ts(10, 0), 1L, "view"), (2L, ts(10, 5), 2L, "view"))
    q.processAllAvailable()
    es.addData((3L, ts(10, 20), 1L, "view"))
    q.processAllAvailable()
    es.addData((4L, ts(12, 0), 1L, "view"))
    q.processAllAvailable()
    // close all sessions: push watermark far ahead
    es.addData((5L, ts(23, 0), 9L, "view"))
    q.processAllAvailable()
    es.addData((6L, ts(23, 59), 9L, "view"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess")
      .select($"user_id", $"s_start", $"s_end", $"n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect()
      .filter(_._1 != 9L).map(r => (r._1, r._2.toString, r._3.toString, r._4)).toSet
    // session end = last event + gap (session_window semantics)
    assert(got == Set(
      (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:50:00.0", 2L),
      (2L, "2024-01-01 10:05:00.0", "2024-01-01 10:35:00.0", 1L),
      (1L, "2024-01-01 12:00:00.0", "2024-01-01 12:30:00.0", 1L)), s"got $got")
    // batch dual: same expression over the union of all events
    val dual = EventStreams.sessionCounts(
      Seq((1L, ts(10, 0), 1L, "view"), (2L, ts(10, 5), 2L, "view"),
        (3L, ts(10, 20), 1L, "view"), (4L, ts(12, 0), 1L, "view"))
        .toDF("event_id", "ts", "user_id", "event_type"))
      .select($"user_id", $"s_start", $"s_end", $"n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect()
      .map(r => (r._1, r._2.toString, r._3.toString, r._4)).toSet
    assert(dual == got)
  }

  test("streaming sliding windows: each event lands in two overlapping windows") {
    implicit val sc = spark.sqlContext
    val es = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val events = es.toDF()
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0))
    val out = EventStreams.slidingCounts(events)
    val q = out.writeStream.format("memory").queryName("slide")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def ts(m: Int, s: Int = 0) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:$s%02d")
    // one event at 10:07:30 -> windows [10:00,10:10) and [10:05,10:15)
    es.addData((1L, ts(7, 30), 1L, "view"), (2L, ts(7, 40), 1L, "view"))
    q.processAllAvailable()
    es.addData((3L, ts(59), 9L, "other")) // close via watermark
    q.processAllAvailable()
    es.addData((4L, java.sql.Timestamp.valueOf("2024-01-01 11:59:00"), 9L, "other"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("slide")
      .filter($"event_type" === "view")
      .select($"w_start", $"n").as[(java.sql.Timestamp, Long)].collect()
      .map(r => (r._1.toString, r._2)).toSet
    assert(got == Set(
      ("2024-01-01 10:00:00.0", 2L),
      ("2024-01-01 10:05:00.0", 2L)), s"got $got")
  }

  test("stream-static enrichment join matches the batch dual across micro-batches") {
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-dim").toString
    // static dimension as a parquet dir — the CDC snapshot shape. Its file
    // listing is resolved at query START (an in-place overwrite mid-stream
    // fails with FILE_NOT_EXIST — see enrichWithDim's scaladoc), so the
    // dimension is fixed for the query's lifetime.
    Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment")
      .write.mode("overwrite").parquet(tmp)
    val es = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val events = es.toDF().toDF("event_id", "ts", "user_id", "value")
    val out = EventStreams.enrichWithDim(events, spark.read.parquet(tmp), "user_id")
    val q = out.writeStream.format("memory").queryName("enrich")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val batch1 = Seq((1L, ts(1), 1L, 10.0), (2L, ts(2), 2L, 5.0), (3L, ts(4), 1L, 2.5))
    val batch2 = Seq((4L, ts(7), 2L, 1.0))
    es.addData(batch1: _*)
    q.processAllAvailable()
    es.addData(batch2: _*)
    q.processAllAvailable()
    // push the watermark past the window so the 10:00 window closes
    es.addData((5L, ts(59), 1L, 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich")
      .select($"segment", $"n", $"sum_value").as[(String, Long, Double)]
      .collect().toSet
    // batch dual over the same events (closed 10:00 window only)
    val dual = EventStreams.enrichWithDim(
      (batch1 ++ batch2).toDF("event_id", "ts", "user_id", "value"),
      spark.read.parquet(tmp), "user_id")
      .select($"segment", $"n", $"sum_value").as[(String, Long, Double)]
      .collect().toSet
    assert(got == Set(("gold", 2L, 12.5), ("basic", 2L, 6.0)))
    assert(got == dual)
  }

  test("live dimension refresh: an update to the dimension IS reflected in the next micro-batch") {
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-livedim").toString
    val dimDir = s"$tmp/dim"
    // dimension v1: user 1 is gold
    Seq((1L, "gold")).toDF("user_id", "segment")
      .write.mode("overwrite").parquet(dimDir)
    val es = MemoryStream[(Long, Long, Double)]
    val events = es.toDF().toDF("event_id", "user_id", "value")
    val q = EventStreams.enrichWithLiveDim(
      events, dimDir, "user_id", s"$tmp/out", s"$tmp/ck")
    es.addData((1L, 1L, 10.0))
    q.processAllAvailable()
    // dimension update between micro-batches — the CDC-snapshot-swap shape.
    // Write-aside + rename (never overwrite in place while a reader might
    // hold the listing; here no batch is in flight, but the swap pattern is
    // the production-correct one regardless).
    Seq((1L, "platinum")).toDF("user_id", "segment")
      .write.mode("overwrite").parquet(s"$dimDir.next")
    val dimFile = new java.io.File(dimDir)
    rmTreeLocal(dimFile)
    assert(new java.io.File(s"$dimDir.next").renameTo(dimFile))
    es.addData((2L, 1L, 5.0))
    q.processAllAvailable()
    q.stop()
    // per-batch b<id> subdirs (replay idempotence) → recursive listing
    val got = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$tmp/out")
      .select($"event_id", $"segment").as[(Long, String)].collect().toMap
    // the SAME user is enriched with v1 in batch 1 and v2 in batch 2
    assert(got == Map(1L -> "gold", 2L -> "platinum"), got.toString)
    // each batch owns exactly one subdirectory — a checkpoint replay
    // overwrites its own subdir instead of appending duplicates
    assert(new java.io.File(s"$tmp/out").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("b")) == 2)
  }

  private def rmTreeLocal(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTreeLocal)); f.delete()
  }

  test("schema evolution across micro-batches: v2 reader null-fills v1 payloads") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.types._
    val v2 = StructType(Envelope.rowSchema.fields :+ StructField("phone", StringType))
    def v2env(id: Long, name: String, phone: String, ts: Long): String = {
      val row = s"""{"id":$id,"name":"$name","nationkey":1,"acctbal":10.0,"mktsegment":"X","phone":"$phone"}"""
      s"""{"schema":null,"payload":{"before":null,"after":$row,"source":{"table":"customers","lsn":$ts},"op":"c","ts_ms":$ts}}"""
    }
    val stream = MemoryStream[String]
    val decoded = Envelope.decode(stream.toDF(), row = v2)
    val q = decoded.select($"after.id", $"after.name", $"after.phone")
      .writeStream.format("memory").queryName("evolved")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    stream.addData(env("r", 1, "old", 100))           // v1: no phone field
    q.processAllAvailable()
    stream.addData(v2env(2, "new", "P2", 200))        // v2: phone present
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("evolved")
      .as[(Long, String, Option[String])].collect().toSet
    assert(rows == Set((1L, "old", None), (2L, "new", Some("P2"))))
  }
}
