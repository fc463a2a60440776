package graft.sources

import graft.SparkSpec
import graft.cdc.{Compaction, Envelope}
import graft.streaming.CdcStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The `graft-cdc` DataSource V2 micro-batch source: proves S1/S2's
  * option surface against a REAL pluggable connector (the Derby /
  * ObjectStoreStub discipline applied to the DataSource V2 API). The
  * consumer pipeline (`CdcStream.runBucketed`) executes UNMODIFIED against
  * `format("graft-cdc")` — only the format string differs from the Kafka
  * wiring, and the option map is byte-identical
  * ([[CdcStream.kafkaOptions]]).
  */
class GraftCdcSourceSpec extends SparkSpec {
  import spark.implicits._

  private def env(op: String, id: Long, name: String, ts: Long): String = {
    val row = s"""{"id":$id,"name":"$name","nationkey":1,"acctbal":10.0,"mktsegment":"X"}"""
    val before = if (op == "d") row else "null"
    val after = if (op == "d") "null" else row
    s"""{"schema":null,"payload":{"before":$before,"after":$after,"source":{"table":"customers","lsn":$ts},"op":"$op","ts_ms":$ts}}"""
  }

  /** The Kafka-wiring shape of CdcStream.kafkaSource with only the format
    * string swapped — the "runs unmodified" claim, made literal. */
  private def source(root: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream
      .format("graft-cdc")
      .options(CdcStream.kafkaOptions(root, topic, startingOffsets))
      .load()
      .select(col("value").cast("string").as("value"))

  test("a torn (unterminated) tail is not a record: invisible to offsets " +
      "and never served torn") {
    // a reader polling a LIVE appender can observe bytes whose trailing
    // record has no '\n' yet (the bench's concurrent-producer race):
    // until the terminator is durable the record must not exist — neither
    // in the advertised end offset nor in what a reader returns
    val root = Files.createTempDirectory("graft-dsv2-torn").toString
    GraftCdcLog.append(root, "t", 0, Seq(env("c", 1, "a", 100)))
    val f = GraftCdcSource.partitionFile(root, "t", 0)
    // simulate the mid-flush state: complete record + torn tail
    java.nio.file.Files.write(f.toPath,
      env("c", 2, "b", 110).take(20).getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val read1 = spark.read.format("graft-cdc")
      .options(CdcStream.kafkaOptions(root, "t")).load()
      .select($"offset", $"value".cast("string")).as[(Long, String)]
      .collect().toSet
    assert(read1 == Set((0L, env("c", 1, "a", 100))),
      "the torn tail leaked into the batch read")
    // the appender finishes the record: it becomes offset 1, byte-exact
    java.nio.file.Files.write(f.toPath,
      (env("c", 2, "b", 110).drop(20) + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val read2 = spark.read.format("graft-cdc")
      .options(CdcStream.kafkaOptions(root, "t")).load()
      .select($"offset", $"value".cast("string")).as[(Long, String)]
      .collect().toSet
    assert(read2 == Set((0L, env("c", 1, "a", 100)),
      (1L, env("c", 2, "b", 110))))
  }

  test("batch read exposes the Kafka source schema and per-partition offsets") {
    val root = Files.createTempDirectory("graft-dsv2-batch").toString
    GraftCdcLog.append(root, "t", 0, Seq(env("c", 1, "a", 100), env("c", 2, "b", 110)))
    GraftCdcLog.append(root, "t", 1, Seq(env("c", 3, "c", 120)))
    val df = spark.read.format("graft-cdc")
      .options(CdcStream.kafkaOptions(root, "t")).load()
    assert(df.columns.toSeq == Seq("key", "value", "topic", "partition",
      "offset", "timestamp", "timestampType"))
    val rows = df.select($"partition", $"offset",
        $"value".cast("string"), $"topic")
      .as[(Int, Long, String, String)].collect().toSet
    assert(rows.map(r => (r._1, r._2)) == Set((0, 0L), (0, 1L), (1, 0L)))
    assert(rows.forall(_._4 == "t"))
    assert(rows.find(r => r._1 == 1 && r._2 == 0L).get._3 == env("c", 3, "c", 120))
  }

  test("batch read honors startingOffsets; latest is rejected for batch") {
    val root = Files.createTempDirectory("graft-dsv2-batch-seek").toString
    GraftCdcLog.append(root, "t", 0,
      Seq(env("c", 1, "skip", 100), env("c", 2, "keep", 110)))
    val seek = CdcStream.startingOffsetsJson("t", Map(0 -> 1L))
    val got = spark.read.format("graft-cdc")
      .options(CdcStream.kafkaOptions(root, "t", seek)).load()
      .select($"partition", $"offset").as[(Int, Long)].collect().toSet
    assert(got == Set((0, 1L)), "the seek must drop offset 0")
    val ex = intercept[Exception] {
      spark.read.format("graft-cdc")
        .options(CdcStream.kafkaOptions(root, "t", "latest")).load().count()
    }
    assert(ex.getMessage.contains("latest"), ex.getMessage)
    // the per-partition -1 sentinel is the same silent-empty class
    val ex2 = intercept[Exception] {
      spark.read.format("graft-cdc")
        .options(CdcStream.kafkaOptions(root, "t",
          CdcStream.startingOffsetsJson("t", Map(0 -> -1L)))).load().count()
    }
    assert(ex2.getMessage.contains("-1"), ex2.getMessage)
  }

  test("-2 (earliest) sentinel for an unknown partition fails loudly like -1 and numeric seeks") {
    val root = Files.createTempDirectory("graft-dsv2-badpart").toString
    GraftCdcLog.append(root, "t", 0, Seq(env("c", 1, "x", 100)))
    val stream = new graft.sources.GraftCdcStream(root, "t",
      CdcStream.startingOffsetsJson("t", Map(5 -> -2L)))
    val ex = intercept[Exception] { stream.initialOffset() }
    assert(ex.getMessage.contains("unknown partition 5"), ex.getMessage)
  }

  test("CdcStream.runBucketed executes unmodified against format(graft-cdc): earliest, two partitions") {
    val root = Files.createTempDirectory("graft-dsv2-run").toString
    val tmp = Files.createTempDirectory("graft-dsv2-run-out").toString
    // cross-partition interleaving: the (ts_ms, lsn) winner rule, not
    // arrival order, must decide the snapshot
    val p0 = Seq(env("c", 1, "a1", 100), env("u", 1, "a2", 200), env("c", 3, "c1", 120))
    val p1 = Seq(env("c", 2, "b1", 110), env("d", 2, "b1", 210), env("c", 4, "d1", 220))
    GraftCdcLog.append(root, "customers.cdc", 0, p0)
    GraftCdcLog.append(root, "customers.cdc", 1, p1)
    val q = CdcStream.runBucketed(source(root, "customers.cdc"),
      s"$tmp/snap", s"$tmp/ck", nBuckets = 8, trigger = Trigger.AvailableNow())
    q.awaitTermination()
    val got = CdcStream.readSnapshotBucketed(spark, s"$tmp/snap").get
      .select($"id", $"name").as[(Long, String)].collect().toMap
    val twin = Compaction.latestState(Envelope.decode((p0 ++ p1).toDF("value")))
      .select($"id", $"name").as[(Long, String)].collect().toMap
    assert(got == twin)
    assert(got == Map(1L -> "a2", 3L -> "c1", 4L -> "d1"))
  }

  test("startingOffsets JSON seek: per-partition offsets with -2/-1 sentinels") {
    val root = Files.createTempDirectory("graft-dsv2-seek").toString
    GraftCdcLog.append(root, "t", 0,
      Seq(env("c", 1, "skip0", 100), env("c", 2, "skip1", 110), env("c", 3, "keep", 120)))
    GraftCdcLog.append(root, "t", 1,
      Seq(env("c", 4, "keep", 130), env("c", 5, "keep", 140)))
    GraftCdcLog.append(root, "t", 2, Seq(env("c", 6, "skipped-all", 150)))
    // partition 0: seek to 2 (skip the first two); partition 1: -2 =
    // earliest; partition 2: -1 = latest (nothing consumed)
    val so = CdcStream.startingOffsetsJson("t",
      Map(0 -> 2L, 1 -> -2L, 2 -> -1L))
    val q = source(root, "t", so).writeStream
      .format("memory").queryName("dsv2_seek")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dsv2-seek-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val names = Envelope.decode(spark.table("dsv2_seek"))
      .select($"after.id").as[Long].collect().toSet
    assert(names == Set(3L, 4L, 5L))
  }

  test("a partition missing from the seek map starts at earliest, not dropped") {
    val root = Files.createTempDirectory("graft-dsv2-partial").toString
    GraftCdcLog.append(root, "t", 0, Seq(env("c", 1, "x", 100)))
    GraftCdcLog.append(root, "t", 1, Seq(env("c", 2, "y", 110)))
    val q = source(root, "t", CdcStream.startingOffsetsJson("t", Map(0 -> 1L)))
      .writeStream.format("memory").queryName("dsv2_partial")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dsv2-partial-ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val ids = Envelope.decode(spark.table("dsv2_partial"))
      .select($"after.id").as[Long].collect().toSet
    assert(ids == Set(2L))
  }

  test("commit-after-apply: a restart from the checkpoint replays nothing already committed") {
    val root = Files.createTempDirectory("graft-dsv2-replay").toString
    val tmp = Files.createTempDirectory("graft-dsv2-replay-out").toString
    GraftCdcLog.append(root, "t", 0,
      Seq(env("c", 1, "a1", 100), env("c", 2, "b1", 110)))
    // capture exactly which (partition, offset) records each RUN consumes
    val consumed = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    def drive(): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .options(CdcStream.kafkaOptions(root, "t")).load()
        .writeStream
        .option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select(col("partition"), col("offset"))
            .collect().foreach(r => consumed.add((r.getInt(0), r.getLong(1))))
          ()
        }.start()
      q.awaitTermination()
    }
    drive()
    assert(consumed.toArray.toSet == Set((0, 0L), (0, 1L)))
    // restart with NOTHING new: the committed checkpoint must replay zero
    consumed.clear()
    drive()
    assert(consumed.isEmpty, s"replayed: ${consumed.toArray.mkString(",")}")
    // append and restart: only the new record is served
    GraftCdcLog.append(root, "t", 0, Seq(env("u", 1, "a2", 200)))
    drive()
    assert(consumed.toArray.toSet == Set((0, 2L)))
  }

  test("startingOffsets=latest consumes only records appended after query start") {
    val root = Files.createTempDirectory("graft-dsv2-latest").toString
    GraftCdcLog.append(root, "t", 0, Seq(env("c", 1, "pre", 100)))
    val q = source(root, "t", "latest").writeStream
      .format("memory").queryName("dsv2_latest")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dsv2-latest-ck").toString)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dsv2_latest").isEmpty)
      GraftCdcLog.append(root, "t", 0, Seq(env("c", 2, "post", 200)))
      q.processAllAvailable()
      val ids = Envelope.decode(spark.table("dsv2_latest"))
        .select($"after.id").as[Long].collect().toSet
      assert(ids == Set(2L))
    } finally q.stop()
  }

  test("offset JSON round-trips; malformed offsets and shrunken logs fail loudly") {
    val o = GraftCdcOffset("customers.cdc", Map(0 -> 5L, 3 -> 0L))
    assert(GraftCdcOffset.parse(o.json()) == o)
    assert(o.json() == """{"customers.cdc":{"0":5,"3":0}}""")
    intercept[IllegalArgumentException](GraftCdcOffset.parse("not json"))
    intercept[IllegalArgumentException](GraftCdcOffset.parse("""{"t":{}}"""))
    // seek beyond the end of a partition is a config error, not silence
    val root = Files.createTempDirectory("graft-dsv2-guard").toString
    GraftCdcLog.append(root, "t", 0, Seq(env("c", 1, "x", 100)))
    val stream = new GraftCdcStream(root, "t",
      CdcStream.startingOffsetsJson("t", Map(0 -> 99L)))
    intercept[IllegalArgumentException](stream.initialOffset())
    // a log that shrank below committed offsets = data loss, loud
    val ok = new GraftCdcStream(root, "t", "earliest")
    intercept[IllegalArgumentException](ok.planInputPartitions(
      GraftCdcOffset("t", Map(0 -> 5L)), GraftCdcOffset("t", Map(0 -> 1L))))
    // a WHOLE partition present in the committed start offsets but absent
    // from the end offsets (its file deleted) is the same data-loss class
    // — it must fail loudly, never silently drop the partition
    val lost = intercept[IllegalStateException](ok.planInputPartitions(
      GraftCdcOffset("t", Map(0 -> 0L, 7 -> 3L)),
      GraftCdcOffset("t", Map(0 -> 1L))))
    assert(lost.getMessage.contains("partition 7"), lost.getMessage)
    // subscribing to a topic with no partitions on disk is loud
    intercept[IllegalArgumentException](
      new GraftCdcStream(root, "missing", "earliest").initialOffset())
  }

  test("""a topic containing quotes/backslashes round-trips through the offset JSON""") {
    val o = GraftCdcOffset("""odd"topic\name""", Map(0 -> 5L))
    assert(GraftCdcOffset.parse(o.json()) == o,
      s"checkpoint offset JSON must survive restart parse: ${o.json()}")
  }

  test("admission control: minOffsetsPerTrigger defers partial produce " +
      "cycles, maxTriggerDelay force-flushes, maxOffsetsPerTrigger caps " +
      "proportionally") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = Files.createTempDirectory("graft-dsv2-adm").toString
    GraftCdcLog.append(root, "t", 0, Seq(env("c", 1, "a", 100)))
    GraftCdcLog.append(root, "t", 1, Seq.empty)
    val stream = new GraftCdcStream(root, "t", "earliest",
      minOffsets = Some(4L), maxTriggerDelayMs = 60000L,
      maxOffsets = Some(6L))
    val start = stream.initialOffset().asInstanceOf[GraftCdcOffset]
    val minL = ReadLimit.minRows(4L, 60000L)
    // 1 new record < min 4: the trigger DEFERS (offset unchanged → no
    // micro-batch), instead of splitting the produce cycle
    assert(stream.latestOffset(start, minL) == start)
    // the floor reached: admitted in one batch
    GraftCdcLog.append(root, "t", 1, Seq(
      env("c", 2, "b", 110), env("c", 3, "c", 120), env("c", 4, "d", 130)))
    assert(stream.latestOffset(start, minL)
      .asInstanceOf[GraftCdcOffset].parts == Map(0 -> 1L, 1 -> 3L))
    // a zero delay window force-flushes even below the floor
    val s2 = GraftCdcOffset("t", Map(0 -> 1L, 1 -> 3L))
    GraftCdcLog.append(root, "t", 0, Seq(env("u", 1, "a2", 200)))
    assert(stream.latestOffset(s2, ReadLimit.minRows(99L, 0L))
      .asInstanceOf[GraftCdcOffset].parts == Map(0 -> 2L, 1 -> 3L))
    // maxOffsetsPerTrigger: 9 new records across (2, 7) backlogs capped
    // at 6 → proportional floors (1, 4), remainder to the smallest
    // partition id → (2, 4): deterministic
    GraftCdcLog.append(root, "t", 0, Seq(env("u", 1, "a3", 210)))
    GraftCdcLog.append(root, "t", 1,
      (0 until 7).map(i => env("c", 10L + i, s"x$i", 300L + i)))
    val s3 = GraftCdcOffset("t", Map(0 -> 1L, 1 -> 3L))
    val capped = stream.latestOffset(s3, ReadLimit.maxRows(6L))
      .asInstanceOf[GraftCdcOffset].parts
    assert(capped == Map(0 -> 3L, 1 -> 7L), s"got $capped")
    // composite: admission gates on the FULL backlog, then the cap sizes
    // the batch
    val comp = ReadLimit.compositeLimit(Array(
      ReadLimit.minRows(99L, 60000L), ReadLimit.maxRows(6L)))
    assert(stream.latestOffset(s3, comp) == s3, "composite must defer")
    val comp2 = ReadLimit.compositeLimit(Array(
      ReadLimit.minRows(4L, 60000L), ReadLimit.maxRows(6L)))
    assert(stream.latestOffset(s3, comp2)
      .asInstanceOf[GraftCdcOffset].parts == Map(0 -> 3L, 1 -> 7L))
    // rate-limited drain covers every record exactly once across triggers
    var at = s3
    var seen = 0L
    (0 until 10).takeWhile { _ =>
      val next = stream.latestOffset(at, ReadLimit.maxRows(5L))
        .asInstanceOf[GraftCdcOffset]
      val n = next.parts.map { case (p, e) => e - at.parts(p) }.sum
      seen += n; at = next; n > 0
    }
    assert(seen == 9L && at.parts == Map(0 -> 3L, 1 -> 10L))
    // AvailableNow: the rate cap still SIZES each batch (a catch-up must
    // not land as one giant merge) while the min floor is bypassed (a
    // drain must terminate, never defer) — and the capped drain reaches
    // exactly the pinned end
    stream.prepareForTriggerAvailableNow()
    val s0 = stream.initialOffset().asInstanceOf[GraftCdcOffset]
    assert(stream.latestOffset(s0, ReadLimit.minRows(999L, 60000L))
      .asInstanceOf[GraftCdcOffset].parts == Map(0 -> 3L, 1 -> 10L),
      "AvailableNow must bypass the admission floor")
    var at2 = s0
    var steps = 0
    while (at2.parts != Map(0 -> 3L, 1 -> 10L) && steps < 10) {
      val next = stream.latestOffset(at2, ReadLimit.maxRows(5L))
        .asInstanceOf[GraftCdcOffset]
      val n = next.parts.map { case (p, e) => e - at2.parts(p) }.sum
      assert(n <= 5L, s"AvailableNow batch exceeded the rate cap: $n")
      at2 = next; steps += 1
    }
    assert(at2.parts == Map(0 -> 3L, 1 -> 10L) && steps >= 3,
      s"capped AvailableNow drain must reach the pinned end in >1 batch ($steps)")
  }

  test("incremental end-offset polling: resumed counts equal full scans " +
      "across appends, torn tails, and a shrink recovers loudly") {
    val root = Files.createTempDirectory("graft-dsv2-incr").toString
    GraftCdcLog.append(root, "t", 0, Seq(env("c", 1, "a", 100)))
    val stream = new GraftCdcStream(root, "t", "earliest")
    def end(): Long = stream.currentEnd().parts(0)
    assert(end() == 1L)
    // poll again with no growth: the resume point means zero new bytes
    assert(end() == 1L)
    // append two records, then a torn tail: the resumed count sees the
    // two terminators and leaves the torn bytes for the NEXT resume
    GraftCdcLog.append(root, "t", 0,
      Seq(env("c", 2, "b", 110), env("c", 3, "c", 120)))
    val f = GraftCdcSource.partitionFile(root, "t", 0)
    java.nio.file.Files.write(f.toPath,
      env("c", 4, "d", 130).take(10).getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    assert(end() == 3L, "torn tail must stay invisible to the resumed count")
    // the appender completes the torn record: counted on the next poll
    java.nio.file.Files.write(f.toPath,
      (env("c", 4, "d", 130).drop(10) + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    assert(end() == 4L)
    assert(end() == GraftCdcSource.lineCount(f),
      "resumed count diverged from the full scan")
    // planned ranges carry a usable seek hint once polls recorded one,
    // and the hinted reader returns byte-identical records
    val parts = stream.planInputPartitions(
      GraftCdcOffset("t", Map(0 -> 3L)), GraftCdcOffset("t", Map(0 -> 4L)))
    val part = parts.head.asInstanceOf[GraftCdcInputPartition]
    assert(part.hintLine == 3L && part.hintPos > 0L,
      s"expected the poll-recorded seek point, got $part")
    val reader = new GraftCdcReaderFactory().createReader(part)
    assert(reader.next())
    val served = new String(reader.get().getBinary(1), "UTF-8")
    assert(served == env("c", 4, "d", 130), "hinted read served wrong record")
    assert(!reader.next()); reader.close()
    // a file that SHRANK below the resume point: the recount-from-zero
    // yields the smaller truth and the monotonicity check fails loudly
    java.nio.file.Files.write(f.toPath,
      (env("c", 1, "a", 100) + "\n").getBytes("UTF-8"))
    assert(end() == 1L)
    intercept[IllegalArgumentException](stream.planInputPartitions(
      GraftCdcOffset("t", Map(0 -> 4L)), GraftCdcOffset("t", Map(0 -> 1L))))
  }
}
