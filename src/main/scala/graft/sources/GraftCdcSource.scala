package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, ReadMinRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-cdc` — a DataSource V2 micro-batch source that serves a
  * Debezium-shaped change log from an append-only file layout while
  * speaking the KAFKA reader option contract
  * ([[graft.streaming.CdcStream.kafkaOptions]] /
  * `consumer.py:28-49` semantics):
  *
  *  - `kafka.bootstrap.servers` → the broker ROOT DIRECTORY (the stub's
  *    "cluster address"): topics live at `<root>/<topic>/`.
  *  - `subscribe` → exactly one topic name (the reference consumer
  *    subscribes a single topic).
  *  - `startingOffsets` → `earliest` | `latest` | the connector's
  *    per-partition JSON `{"topic":{"0":off,…}}` with the documented
  *    sentinels (-2 = earliest, -1 = latest) — the manual-assign seek
  *    surface (consumer.py:42-46).
  *  - commit-after-apply → [[GraftCdcStream.commit]] is a no-op BY
  *    CONTRACT: the checkpoint dir is the committed offset store, written
  *    by the engine only after the micro-batch sink succeeds — identical
  *    to how the real Kafka connector honors `enable.auto.commit=False`.
  *
  * Topic layout: `<root>/<topic>/partition-<p>.jsonl`, one UTF-8 envelope
  * JSON per line; a record's offset IS its line index. The files are
  * append-only ([[GraftCdcLog.append]]) — offsets are stable across
  * re-reads, which is what makes a checkpoint-replayed range return the
  * SAME rows (the exactly-once prerequisite). Shrinking a file under a
  * live stream is data loss and fails the reader loudly, mirroring the
  * connector's failOnDataLoss=true default.
  *
  * Output schema: the Kafka source's 7 columns (key/value binary, topic,
  * partition, offset, timestamp, timestampType), so a query written
  * against `format("kafka")` runs UNMODIFIED against `format("graft-cdc")`
  * — `GraftCdcSourceSpec` drives `CdcStream.runBucketed` through it end
  * to end.
  *
  * Scale notes: one [[InputPartition]] per topic partition per batch, so
  * read parallelism is the topic's partition count exactly like Kafka;
  * offset bookkeeping is O(partitions) on the driver. The end-offset scan
  * in [[GraftCdcStream.currentEnd]] is INCREMENTAL over the append-only
  * log (a cached byte position resumes the terminator count — O(new
  * bytes) per poll, where a full re-scan under a ProcessingTime(0)
  * trigger is quadratic over the run's life), and each planned range
  * carries a byte seek hint so the task reader skips straight to its
  * start instead of re-reading the file head every batch (a real broker
  * answers both from its offset index; this is the file-log equivalent).
  */
object GraftCdcSource {
  val ShortName = "graft-cdc"

  val Schema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("timestampType", IntegerType, nullable = false)))

  private[sources] def partitionFile(root: String, topic: String, p: Int): File =
    new File(new File(root, topic), s"partition-$p.jsonl")

  /** Topic partition ids present on disk (fails loudly on a missing or
    * empty topic dir — subscribing to a topic that doesn't exist is a
    * config error, not an empty stream). */
  private[sources] def partitionsOf(root: String, topic: String): Seq[Int] = {
    val dir = new File(root, topic)
    val parts = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .flatMap { f =>
        val n = f.getName
        if (n.startsWith("partition-") && n.endsWith(".jsonl"))
          Some(n.stripPrefix("partition-").stripSuffix(".jsonl").toInt)
        else None
      }.toSeq.sorted
    if (parts.isEmpty) throw new IllegalArgumentException(
      s"graft-cdc: topic '$topic' has no partitions under $dir " +
        "(expected partition-<n>.jsonl files)")
    parts
  }

  /** Record count = count of newline-TERMINATED lines. A concurrent
    * appender's in-flight record (bytes flushed but no '\n' yet) is NOT a
    * record: readLine-based counting saw such torn tails and advertised an
    * offset the reader then couldn't serve — the terminator is what makes
    * an append durable to this log, exactly a WAL reader's rule. Counting
    * only terminators keeps offsets MONOTONE under live appends (the file
    * is append-only, so terminated-line count never decreases). */
  private[sources] def lineCount(f: File): Long = countFrom(f, 0L, 0L)._2

  /** Resume counting newline-terminated lines from byte `pos` (already
    * `linesBefore` terminators behind it). Returns (byte position just
    * AFTER the last terminator seen, total terminated-line count). The
    * returned position deliberately excludes any torn tail bytes — the
    * next resume re-scans them, so a record becomes countable exactly
    * when its terminator lands, never earlier.
    *
    * This is what makes the driver's poll loop O(new bytes) instead of
    * O(total log bytes): the log is append-only, so a cached (pos, count)
    * stays valid as long as the file has only grown — a continuous
    * ProcessingTime(0) trigger otherwise re-scans the whole log every
    * trigger, quadratic over a run's life. */
  private[sources] def countFrom(f: File, pos: Long,
      linesBefore: Long): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else {
      val in = Files.newInputStream(f.toPath)
      try {
        // bulk-buffer scan: per-byte stream reads here measurably
        // throttled the whole consumer
        var toSkip = pos
        while (toSkip > 0) {
          val s = in.skip(toSkip)
          if (s <= 0) toSkip = 0 else toSkip -= s
        }
        val buf = new Array[Byte](1 << 16)
        var n = linesBefore
        var at = pos // bytes consumed so far
        var lastNl = pos // position just after the last '\n'
        var r = in.read(buf)
        while (r != -1) {
          var i = 0
          while (i < r) {
            if (buf(i) == '\n') { n += 1; lastNl = at + i + 1 }
            i += 1
          }
          at += r
          r = in.read(buf)
        }
        (lastNl, n)
      } finally in.close()
    }
}

/** One record range of one topic partition — the unit of read parallelism,
  * exactly Kafka's (topic-partition, fromOffset, untilOffset).
  *
  * `hintLine`/`hintPos` are a seek hint the DRIVER's offset bookkeeping
  * already knows (line index ↦ byte position of a poll it counted): the
  * reader positions at `hintPos` and skips only `start − hintLine` lines
  * instead of re-scanning the file from byte 0 — without it every
  * micro-batch on a long-lived partition pays O(bytes served so far),
  * quadratic over the stream's life (a real Kafka fetch seeks by offset
  * index the same way). A hint of (0, 0) is always safe. */
final case class GraftCdcInputPartition(
    path: String, topic: String, partition: Int,
    start: Long, end: Long,
    hintLine: Long = 0L, hintPos: Long = 0L) extends InputPartition

/** Streaming offset: per-partition next-record indexes, serialized in the
  * SAME JSON shape the Kafka connector uses for startingOffsets, so the
  * checkpoint contents are recognizable to a Kafka operator. */
final case class GraftCdcOffset(topic: String, parts: Map[Int, Long])
    extends Offset {
  override def json(): String = {
    val inner = parts.toSeq.sortBy(_._1)
      .map { case (p, o) => s""""$p":$o""" }.mkString(",")
    // escape the topic: a quote or backslash in the name embedded raw
    // would write malformed offset JSON into the checkpoint that parse()
    // then rejects on restart (a checkpoint the query can never reopen)
    s"""{"${GraftCdcOffset.escape(topic)}":{$inner}}"""
  }
}

object GraftCdcOffset {
  private val TopicRe = """\{\s*"((?:[^"\\]|\\.)+)"\s*:\s*\{([^}]*)\}\s*\}""".r
  private val PairRe = """"(\d+)"\s*:\s*(-?\d+)""".r

  private[sources] def escape(s: String): String =
    s.flatMap { case '\\' => "\\\\"; case '"' => "\\\""; case c => c.toString }
  private def unescape(s: String): String =
    s.replaceAll("""\\(.)""", "$1")

  /** Parse the connector's per-partition JSON (also the startingOffsets
    * seek form, where -2/-1 sentinels are permitted — the caller resolves
    * them). Fails loudly on anything else. */
  def parse(json: String): GraftCdcOffset = json match {
    case TopicRe(topic, body) =>
      val pairs = PairRe.findAllMatchIn(body)
        .map(m => m.group(1).toInt -> m.group(2).toLong).toMap
      if (pairs.isEmpty) throw new IllegalArgumentException(
        s"graft-cdc: no partition offsets in '$json'")
      GraftCdcOffset(unescape(topic), pairs)
    case _ => throw new IllegalArgumentException(
      s"graft-cdc: cannot parse offsets '$json' " +
        """(expected {"topic":{"0":off,...}})""")
  }
}

class GraftCdcTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = GraftCdcSource.ShortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftCdcSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftCdcTable(new CaseInsensitiveStringMap(properties))
}

class GraftCdcTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val root = Option(options.get("kafka.bootstrap.servers")).getOrElse(
    throw new IllegalArgumentException(
      "graft-cdc: kafka.bootstrap.servers (the broker root directory) is required"))
  private val topic = Option(options.get("subscribe")).getOrElse(
    throw new IllegalArgumentException("graft-cdc: subscribe is required"))
  require(!topic.contains(","),
    "graft-cdc: exactly one topic (the reference consumer subscribes one)")
  private val startingOffsets =
    Option(options.get("startingOffsets")).getOrElse("earliest")
  // admission-control options — the Kafka source's trigger-sizing trio.
  // minOffsetsPerTrigger defers a micro-batch until at least that many new
  // records exist (or maxTriggerDelayMs has passed since the last admitted
  // batch): a consumer racing a live producer otherwise captures PARTIAL
  // produce cycles and pays the sink's fixed per-batch cost once per
  // fragment — Kafka's fetch.min.bytes discipline at the trigger level.
  // maxOffsetsPerTrigger caps a batch, split proportionally to each
  // partition's backlog (rate limiting, Kafka semantics). Delay is plain
  // milliseconds (the Kafka option takes a duration string).
  private val minOffsets =
    Option(options.get("minOffsetsPerTrigger")).map(_.toLong)
  private val maxTriggerDelayMs =
    Option(options.get("maxTriggerDelayMs")).map(_.toLong)
      .getOrElse(15L * 60 * 1000) // Kafka's maxTriggerDelay default: 15m
  private val maxOffsets =
    Option(options.get("maxOffsetsPerTrigger")).map(_.toLong)

  override def name(): String = s"graft-cdc:$root/$topic"
  override def schema(): StructType = GraftCdcSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = GraftCdcSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftCdcStream(root, topic, startingOffsets,
            minOffsets, maxTriggerDelayMs, maxOffsets)
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] = {
            // honor startingOffsets exactly like the streaming path; Kafka's
            // batch source rejects `latest` as a start (it would always be
            // an empty read) — mirror that loudly instead of returning
            // nothing, INCLUDING the per-partition -1 sentinel form, which
            // would otherwise resolve to lo == hi and silently read nothing
            require(startingOffsets != "latest",
              "graft-cdc: startingOffsets=latest is not allowed for batch " +
                "reads (it always selects zero records)")
            if (startingOffsets != "earliest")
              require(!GraftCdcOffset.parse(startingOffsets).parts.values
                  .exists(_ == -1L),
                "graft-cdc: a -1 (latest) partition sentinel is not " +
                  "allowed for batch reads (that partition would always " +
                  "read zero records)")
            val stream = new GraftCdcStream(root, topic, startingOffsets)
            stream.planInputPartitions(
              stream.initialOffset(), stream.currentEnd())
          }
          override def createReaderFactory(): PartitionReaderFactory =
            new GraftCdcReaderFactory
        }
      }
    }
}

class GraftCdcStream(root: String, topic: String, startingOffsets: String,
    minOffsets: Option[Long] = None,
    maxTriggerDelayMs: Long = 15L * 60 * 1000,
    maxOffsets: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  import GraftCdcSource._

  /** Per-partition (byte position after the last counted terminator,
    * terminated-line count) — the append-only log's resume point, so each
    * poll scans only the NEW bytes (see [[GraftCdcSource.countFrom]]).
    * Guarded by its own monitor: the micro-batch engine drives one thread,
    * but reportLatestOffset may be sampled concurrently. */
  private val tailCache =
    scala.collection.mutable.Map.empty[Int, (Long, Long)]

  /** Line-index ↦ byte-position seek points observed by past polls, per
    * partition — what [[planInputPartitions]] hands readers as
    * [[GraftCdcInputPartition]] hints. Each batch's start offset was some
    * earlier poll's count, so the lookup is almost always exact (skip 0
    * lines). Bounded: oldest seek points are dropped past
    * [[SeekPointsKept]] — a reader falling before the window still works,
    * it just skips more lines. */
  private val seekPoints =
    scala.collection.mutable.Map.empty[Int, java.util.TreeMap[Long, Long]]
  private val SeekPointsKept = 64

  private def countCached(p: Int): Long = tailCache.synchronized {
    val f = partitionFile(root, topic, p)
    val (pos, cnt) = tailCache.getOrElse(p, (0L, 0L))
    // A file now shorter than the resume point has SHRUNK — recount from
    // zero AND drop its seek points (line↦byte mappings of the old
    // content; after the log regrows past the old length a stale hint
    // would pass the reader's bounds check and serve wrong bytes). The
    // smaller count then fails planInputPartitions' monotonicity check
    // loudly (same failOnDataLoss class as before the cache). A REWRITE
    // that lands at ≥ the old length is undetectable by any length/count
    // bookkeeping (Kafka has the same blind spot without epochs) — the
    // log contract is append-only, and violating it is data corruption
    // the checkpoint offsets can't see either.
    val (pos2, cnt2) =
      if (f.length() < pos) {
        seekPoints.get(p).foreach(_.clear())
        countFrom(f, 0L, 0L)
      } else countFrom(f, pos, cnt)
    tailCache(p) = (pos2, cnt2)
    val sp = seekPoints.getOrElseUpdate(p, new java.util.TreeMap[Long, Long]())
    sp.put(cnt2, pos2)
    while (sp.size() > SeekPointsKept) sp.remove(sp.firstKey())
    cnt2
  }

  /** End offsets NOW: per-partition record counts. Public within the
    * package for the Batch planning reuse. */
  private[sources] def currentEnd(): GraftCdcOffset =
    GraftCdcOffset(topic, partitionsOf(root, topic)
      .map(p => p -> countCached(p)).toMap)

  override def initialOffset(): Offset = startingOffsets match {
    case "earliest" =>
      GraftCdcOffset(topic, partitionsOf(root, topic).map(_ -> 0L).toMap)
    case "latest" => currentEnd()
    case json =>
      val seek = GraftCdcOffset.parse(json)
      require(seek.topic == topic,
        s"graft-cdc: startingOffsets topic '${seek.topic}' != subscribed '$topic'")
      val end = currentEnd()
      val resolved = seek.parts.map {
        // the -2 sentinel must fail on an unknown partition exactly like
        // -1 and numeric seeks do — a typo'd partition id silently mapping
        // to "earliest of nothing" would never be consumed yet persist in
        // the checkpoint offset JSON
        case (p, -2L) =>
          require(end.parts.contains(p), s"graft-cdc: unknown partition $p")
          p -> 0L
        case (p, -1L) => p -> end.parts.getOrElse(p,
          throw new IllegalArgumentException(s"graft-cdc: unknown partition $p"))
        case (p, o) =>
          val avail = end.parts.getOrElse(p,
            throw new IllegalArgumentException(s"graft-cdc: unknown partition $p"))
          require(o >= 0 && o <= avail,
            s"graft-cdc: seek offset $o out of range [0, $avail] for partition $p")
          p -> o
      }
      // partitions absent from the seek map start at earliest — the
      // reference assigns every partition explicitly, but a partial map
      // must not silently DROP a partition from consumption
      val missing = end.parts.keySet -- resolved.keySet
      GraftCdcOffset(topic, resolved ++ missing.map(_ -> 0L))
  }

  // ---- Trigger.AvailableNow: pin the end at query start so the run
  // drains exactly the records present when it began, then terminates
  private var availableNowEnd: Option[GraftCdcOffset] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(currentEnd())

  override def getDefaultReadLimit: ReadLimit = (minOffsets, maxOffsets) match {
    case (Some(mn), Some(mx)) => ReadLimit.compositeLimit(Array(
      ReadLimit.minRows(mn, maxTriggerDelayMs), ReadLimit.maxRows(mx)))
    case (Some(mn), None) => ReadLimit.minRows(mn, maxTriggerDelayMs)
    case (None, Some(mx)) => ReadLimit.maxRows(mx)
    case _ => ReadLimit.allAvailable()
  }

  // start of the current DEFERRAL EPISODE — the min-rows rule's delay
  // anchor: maxTriggerDelay bounds how long below-floor data may WAIT
  // un-admitted, so the anchor starts when data is first deferred and
  // clears on admission (or when nothing is pending). Anchoring at the
  // last admitted batch instead is subtly wrong: a batch that takes
  // longer to PROCESS than the delay window makes the very next partial
  // poll force-flush immediately, re-splitting every produce cycle the
  // floor exists to keep whole.
  private var deferredSince: Option[Long] = None

  private def newRowsIn(s: GraftCdcOffset, end: GraftCdcOffset): Long =
    end.parts.map { case (p, e) =>
      math.max(0L, e - s.parts.getOrElse(p, 0L)) }.sum

  /** Cap `end` at `max` NEW records past `s`, split proportionally to
    * each partition's backlog (the Kafka rate-limit rule), remainder to
    * the smallest partition ids — deterministic. */
  private def cappedEnd(s: GraftCdcOffset, end: GraftCdcOffset,
      max: Long): GraftCdcOffset = {
    val avail = end.parts.map { case (p, e) =>
      p -> math.max(0L, e - s.parts.getOrElse(p, 0L)) }
    val total = avail.values.sum
    if (total <= max) end
    else {
      var caps = avail.map { case (p, a) => p -> max * a / total }
      var rem = max - caps.values.sum
      avail.toSeq.sortBy(_._1).foreach { case (p, a) =>
        if (rem > 0 && caps(p) < a) {
          val add = math.min(rem, a - caps(p))
          caps += p -> (caps(p) + add); rem -= add
        }
      }
      GraftCdcOffset(end.topic, end.parts.map { case (p, e) =>
        p -> math.min(e, s.parts.getOrElse(p, 0L) + caps.getOrElse(p, 0L)) })
    }
  }

  private def applyLimit(s: GraftCdcOffset, end: GraftCdcOffset,
      limit: ReadLimit): GraftCdcOffset = limit match {
    case _: ReadAllAvailable =>
      deferredSince = None; end
    case m: ReadMinRows =>
      val n = newRowsIn(s, end)
      if (n == 0) { deferredSince = None; end } // nothing pending
      else if (n >= m.minRows()) { deferredSince = None; end }
      else {
        val now = System.currentTimeMillis()
        val since = deferredSince.getOrElse { deferredSince = Some(now); now }
        if (now - since >= m.maxTriggerDelayMs()) { deferredSince = None; end }
        else s // defer: below the floor, within the episode's delay window
      }
    case x: ReadMaxRows =>
      deferredSince = None
      cappedEnd(s, end, x.maxRows())
    case c: CompositeReadLimit =>
      // min gates ADMISSION on the full backlog; max then sizes the
      // admitted batch — the Kafka source's composite order
      val limits = c.getReadLimits
      val admitted = limits.collectFirst { case m: ReadMinRows => m }
        .map(m => applyLimit(s, end, m)).getOrElse(end)
      if (admitted == s) s
      else limits.collectFirst { case x: ReadMaxRows => x }
        .map(x => applyLimit(s, end, x)).getOrElse(admitted)
    case _ => end // unknown limit kinds admit everything (engine default)
  }

  private def maxRowsOf(limit: ReadLimit): Option[ReadMaxRows] = limit match {
    case x: ReadMaxRows => Some(x)
    case c: CompositeReadLimit =>
      c.getReadLimits.collectFirst { case x: ReadMaxRows => x }
    case _ => None
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    availableNowEnd match {
      case Some(pinned) =>
        // Trigger.AvailableNow drains to the PINNED end, but the rate
        // cap still sizes each micro-batch (Kafka semantics: the engine
        // keeps triggering until the pinned end is reached, so capping
        // bounds batch size — a 10M-record catch-up must not land as one
        // giant merge). Only the min-rows admission floor is bypassed:
        // deferring below-floor data would stall the run's termination.
        val s = start.asInstanceOf[GraftCdcOffset]
        maxRowsOf(limit).map(x => cappedEnd(s, pinned, x.maxRows()))
          .getOrElse(pinned)
      case None =>
        applyLimit(start.asInstanceOf[GraftCdcOffset], currentEnd(), limit)
    }
  override def reportLatestOffset(): Offset = currentEnd()
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(start, limit) is the admission-control entry point")

  override def deserializeOffset(json: String): Offset =
    GraftCdcOffset.parse(json)

  /** No-op BY CONTRACT (enable.auto.commit=False): the engine's checkpoint
    * — written only after the sink batch succeeds — is the committed
    * offset store; there is nothing to acknowledge to the file log. */
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftCdcOffset]
    val e = end.asInstanceOf[GraftCdcOffset]
    // iterate start ∪ end: a partition present in the checkpointed start
    // but absent from the end offsets means its file vanished from disk —
    // WHOLE-partition loss, the same failOnDataLoss class as a shrunken
    // file, and it must fail as loudly (not silently drop the partition)
    (s.parts.keySet ++ e.parts.keySet).toSeq.sorted.flatMap { p =>
      val hi = e.parts.getOrElse(p, throw new IllegalStateException(
        s"graft-cdc: partition $p is in the committed start offsets but " +
          "missing from the log (partition file deleted? data loss)"))
      val lo = s.parts.getOrElse(p, 0L)
      require(lo <= hi,
        s"graft-cdc: start $lo > end $hi for partition $p (log shrank?)")
      if (lo == hi) None
      else {
        // best seek point at or below the range start (floor lookup);
        // (0, 0) when no poll has recorded one — always safe
        val (hl, hp) = tailCache.synchronized {
          seekPoints.get(p)
            .flatMap(sp => Option(sp.floorEntry(lo)))
            .map(e => (e.getKey.longValue(), e.getValue.longValue()))
            .getOrElse((0L, 0L))
        }
        Some(GraftCdcInputPartition(
          partitionFile(root, topic, p).getAbsolutePath, topic, p, lo, hi,
          hl, hp))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdcReaderFactory
}

class GraftCdcReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftCdcInputPartition]
    new PartitionReader[InternalRow] {
      private val in = Files.newInputStream(Paths.get(p.path))
      // honor the driver's seek hint (validated: a hint past EOF or ahead
      // of the range start means bookkeeping and file disagree — fall back
      // to byte 0 rather than serve from a wrong position)
      private val useHint = p.hintPos > 0 && p.hintLine <= p.start &&
        p.hintPos <= new File(p.path).length()
      private var idx = if (useHint) p.hintLine else 0L
      private var line: Array[Byte] = _
      // bulk-buffered record scanner (per-byte stream reads were the
      // consumer's bottleneck)
      private val buf = new Array[Byte](1 << 16)
      private var bufLen = 0
      private var bufPos = 0
      private val pending = new java.io.ByteArrayOutputStream(256)
      /** Next newline-TERMINATED record, or null at EOF / on an
        * unterminated tail — the same "a record exists only once its
        * terminator is durable" rule as [[GraftCdcSource.lineCount]], so
        * a reader racing a live appender can never serve a TORN record
        * (readLine would have returned the partial bytes as a line). */
      private def nextTerminated(): Array[Byte] = {
        pending.reset()
        while (true) {
          if (bufPos >= bufLen) {
            bufLen = in.read(buf)
            bufPos = 0
            if (bufLen == -1) return null // EOF: any pending bytes are torn
          }
          var i = bufPos
          while (i < bufLen && buf(i) != '\n') i += 1
          pending.write(buf, bufPos, i - bufPos)
          if (i < bufLen) { // found the terminator
            bufPos = i + 1
            return pending.toByteArray
          }
          bufPos = bufLen
        }
        null // unreachable
      }
      // skip to the range start — offsets are line indexes, resumed from
      // the driver's byte hint when one was recorded (O(range bytes)
      // instead of O(file bytes) per batch). A throw here is still inside
      // createReader, so Spark never gets a reader to close() — close the
      // stream ourselves or every failed attempt (task retries on a
      // data-loss partition) leaks one fd
      try {
        if (useHint) {
          var toSkip = p.hintPos
          while (toSkip > 0) {
            val s = in.skip(toSkip)
            if (s <= 0) throw new IllegalStateException(
              s"graft-cdc: ${p.path} ended before seek hint ${p.hintPos} (data loss)")
            toSkip -= s
          }
        }
        while (idx < p.start) {
          if (nextTerminated() == null) throw new IllegalStateException(
            s"graft-cdc: ${p.path} ended before start offset ${p.start} (data loss)")
          idx += 1
        }
      } catch { case e: Throwable => in.close(); throw e }
      override def next(): Boolean =
        if (idx >= p.end) false
        else {
          line = nextTerminated()
          if (line == null) throw new IllegalStateException(
            s"graft-cdc: ${p.path} ended at $idx before end offset ${p.end} (data loss)")
          idx += 1
          true
        }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](
          null, // key: the file log stores value-only records
          line,
          UTF8String.fromString(p.topic),
          p.partition,
          idx - 1,
          0L, // CreateTime epoch: deterministic (replay-identical) stub value
          0))
      override def close(): Unit = in.close()
    }
  }
}

/** Writer half of the file log — what a test (or a capture process)
  * appends with. Append-only by construction: records only ever go at the
  * end, so every already-served offset stays stable. */
object GraftCdcLog {
  def append(root: String, topic: String, partition: Int,
      values: Seq[String]): Unit = {
    require(values.forall(v => !v.contains("\n") && !v.contains("\r")),
      "graft-cdc: records are one-per-line; embedded newlines would corrupt offsets")
    val f = GraftCdcSource.partitionFile(root, topic, partition)
    f.getParentFile.mkdirs()
    val payload = values.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8)
    Files.write(f.toPath, payload,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
