package graft.streaming

import graft.SparkSpec
import graft.cdc.Envelope
import org.apache.spark.sql.DataFrame
import java.io.File
import java.nio.file.Files

/** Cross-table transaction contract of [[TableGroup]] / [[DualSink]]: a
  * snapshot and an SCD2 history maintained from the same batch are
  * published by ONE create-if-absent CAS on a transaction-log entry whose
  * content is the whole group manifest. A crash anywhere before the CAS
  * leaves NO durable trace of the transaction (orphan data files only —
  * there are no per-table manifests to tear); readers keep a CONSISTENT
  * pre-commit pair; replay converges and GCs orphans. Racing committers
  * are serialized by the CAS: exactly one wins each transaction id, the
  * loser recomputes and retries, and the final state equals the serial
  * application of both. */
class TableGroupSpec extends SparkSpec with BothMergePaths {
  import spark.implicits._

  /** The store every test in this suite publishes through.
    * [[TableGroupObjectStoreSpec]] overrides it with the HTTP
    * conditional-PUT adapter so the identical race/crash matrix runs
    * against object-store semantics. */
  protected def baseStore: CommitStore = LocalFsCommitStore

  override protected def withFixture(test: NoArgTest): org.scalatest.Outcome =
    CommitStore.with_(baseStore)(super.withFixture(test))

  private def env(op: String, id: Long, name: String, ts: Long): String = {
    val row = s"""{"id":$id,"name":"$name","nationkey":1,"acctbal":10.0,"mktsegment":"X"}"""
    val before = if (op == "d") row else "null"
    val after = if (op == "d") "null" else row
    s"""{"schema":null,"payload":{"before":$before,"after":$after,"source":{"table":"customers","lsn":$ts},"op":"$op","ts_ms":$ts}}"""
  }

  private def decoded(events: Seq[String]): DataFrame =
    Envelope.decode(events.toDF("value"))

  private def snapState(g: String): Map[Long, String] =
    DualSink.readSnapshot(spark, g)
      .map(_.select($"id", $"name").as[(Long, String)].collect().toMap)
      .getOrElse(Map.empty)

  private def histState(g: String): Set[(Long, String, Long, Option[Long], Boolean)] =
    DualSink.readHistory(spark, g)
      .map(_.select($"id", $"name", $"valid_from", $"valid_to", $"is_current")
        .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet)
      .getOrElse(Set.empty)

  /** On-disk parquet listing of one table, as `bucket=<b>/<file>`. */
  private def diskFiles(g: String, t: String): Set[String] =
    Option(new File(s"$g/$t").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("bucket="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}")).toSet

  /** Transaction `v`'s live files for one table, from its log entry. */
  private def liveFiles(g: String, t: String, v: Long): Set[String] =
    TableGroup.groupManifest(g, v)
      .flatMap(_.get(t)).map(_.values.flatten.toSet).getOrElse(Set.empty)

  private val b1 = Seq(env("c", 1, "a", 100), env("c", 2, "p", 110))
  private val b2 = Seq(env("u", 1, "b", 200), env("d", 2, "p", 210),
    env("c", 3, "q", 220))

  testBothPaths("dual sink equals the two single-table sinks run separately") { guard =>
    val tmp = Files.createTempDirectory("graft-group-eq").toString
    val g = s"$tmp/group"
    DualSink.applyBatch(decoded(b1), g, nBuckets = 4, localMax = guard)
    DualSink.applyBatch(decoded(b2), g, nBuckets = 4, localMax = guard)

    val snapDir = s"$tmp/solo_snap"
    val histDir = s"$tmp/solo_hist"
    CdcStream.upsertBatchBucketed(spark, snapDir, nBuckets = 4, localMax = guard)(decoded(b1), 0L)
    CdcStream.upsertBatchBucketed(spark, snapDir, nBuckets = 4, localMax = guard)(decoded(b2), 1L)
    Scd2Stream.applyBatchBucketed(decoded(b1), histDir, nBuckets = 4, localMax = guard)
    Scd2Stream.applyBatchBucketed(decoded(b2), histDir, nBuckets = 4, localMax = guard)

    assert(snapState(g) == Map(1L -> "b", 3L -> "q"))
    assert(snapState(g) ==
      CdcStream.readSnapshotBucketed(spark, snapDir).get
        .select($"id", $"name").as[(Long, String)].collect().toMap)
    assert(histState(g) ==
      Scd2Stream.readHistoryBucketed(spark, histDir).get
        .select($"id", $"name", $"valid_from", $"valid_to", $"is_current")
        .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet)
  }

  testBothPaths("crash before the commit CAS publishes NOTHING: readers keep a consistent pair; replay converges and GCs orphans") { guard =>
    val tmp = Files.createTempDirectory("graft-group-crash").toString
    val g = s"$tmp/group"
    DualSink.applyBatch(decoded(b1), g, nBuckets = 4, localMax = guard)
    val txn1 = TableGroup.currentTxn(g)
    val s1 = snapState(g)
    val h1 = histState(g)
    val disk1 = diskFiles(g, "snapshot")

    TableGroup.crashBeforeCommit = true
    try intercept[IllegalStateException] {
      DualSink.applyBatch(decoded(b2), g, nBuckets = 4, localMax = guard)
    } finally TableGroup.crashBeforeCommit = false

    // the crashed attempt's data files are on disk (orphans)...
    assert(diskFiles(g, "snapshot") != disk1,
      "failpoint fired too early — no orphan data files were written")
    // ...but the transaction has NO durable trace: no log entry, and with
    // the manifest content inside the (unpublished) entry there is no
    // per-table manifest file anywhere to be torn
    assert(TableGroup.currentTxn(g) == txn1)
    Seq("snapshot", "history").foreach { t =>
      val manifests = Option(new File(s"$g/$t").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(BucketManifest.ManifestName))
      assert(manifests.isEmpty, s"$t must hold no manifest files: $manifests")
    }
    assert(snapState(g) == s1 && histState(g) == h1,
      "readers must still see the transaction-1 PAIR")

    // replay recomputes and commits once; GC collects the orphans — disk
    // equals transaction 2's live set exactly
    DualSink.applyBatch(decoded(b2), g, nBuckets = 4, localMax = guard)
    assert(TableGroup.currentTxn(g).contains(2L))
    assert(snapState(g) == Map(1L -> "b", 3L -> "q"))
    assert(histState(g).map(_._1) == Set(1L, 2L, 3L))
    Seq("snapshot", "history").foreach { t =>
      assert(diskFiles(g, t) == liveFiles(g, t, 2L), t)
    }
    // log retention default (1): only the live entry remains
    assert(Option(new File(g, TableGroup.TxnLogDir).listFiles()).toSeq
      .flatten.map(_.getName).sorted == Seq(f"${2L}%020d.commit"))
  }

  test("the log-entry CAS admits exactly one writer per transaction id") {
    val tmp = Files.createTempDirectory("graft-group-cas").toString
    val g = s"$tmp/group"
    val m: TableGroup.GroupManifest = Map("t" -> Map(0L -> Seq("bucket=0/a.parquet")))
    TableGroup.publish(g, 5L, m)
    val e = intercept[TableGroup.ConcurrentCommitException] {
      TableGroup.publish(g, 5L, Map("t" -> Map(0L -> Seq("bucket=0/b.parquet"))))
    }
    assert(e.attempted == 5L)
    // the loser did not clobber the winner's content
    assert(TableGroup.groupManifest(g, 5L).contains(m))
    assert(TableGroup.currentTxn(g).contains(5L))
  }

  testBothPaths("racing committers on a SHARED key: loser recomputes and retries; final state equals serial application of both") { guard =>
    val tmp = Files.createTempDirectory("graft-group-race").toString
    val g = s"$tmp/group"
    DualSink.applyBatch(decoded(b1), g, nBuckets = 4, localMax = guard) // txn 1
    // both writers update key 1 → their changed-bucket sets overlap, so
    // the loser's rebase is REFUSED and it must recompute its merges
    val bA = Seq(env("c", 10, "A", 300), env("u", 1, "a3", 330))
    val bB = Seq(env("c", 20, "B", 310), env("u", 1, "b2", 320))

    // writer B completes an ENTIRE commit inside A's window between data
    // write and CAS — A's attempt at txn 2 must lose and be retried
    DualSink.onBeforeCommit = () => {
      DualSink.onBeforeCommit = () => ()
      DualSink.applyBatch(decoded(bB), g, nBuckets = 4, localMax = guard) // B wins txn 2
    }
    try DualSink.applyBatch(decoded(bA), g, nBuckets = 4, localMax = guard)
    finally DualSink.onBeforeCommit = () => ()

    // A's retry landed at txn 3 (it lost 2), and BOTH writers' effects
    // are present: A's later update to the contended key 1 wins by ts,
    // over the b2 value A's retry re-read from B's transaction
    assert(TableGroup.currentTxn(g).contains(3L))
    assert(snapState(g) ==
      Map(1L -> "a3", 2L -> "p", 10L -> "A", 20L -> "B"))
    assert(histState(g).map(_._1) == Set(1L, 2L, 10L, 20L))
    // the out-raced attempt's data files were GC'd: disk == live set
    Seq("snapshot", "history").foreach { t =>
      assert(diskFiles(g, t) == liveFiles(g, t, 3L), t)
    }
  }

  testBothPaths("disjoint racing committers: loser REBASES — no merge recompute, its staged files become live as written") { guard =>
    val tmp = Files.createTempDirectory("graft-group-rebase").toString
    val g = s"$tmp/group"
    DualSink.applyBatch(decoded(b1), g, nBuckets = 4, localMax = guard, retainTxns = 3)
    // pick two fresh keys landing in DIFFERENT buckets (the engine's own
    // bucket function), so the racers' changed-bucket sets are disjoint
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val bucketOf: Long => Long = k =>
      spark.range(1).select(pmod(hash(lit(k)), lit(4)).cast("long"))
        .as[Long].head()
    val idA = 100L
    val idB = (101L to 130L).find(bucketOf(_) != bucketOf(idA)).get
    val bA = Seq(env("c", idA, "A", 300))
    val bB = Seq(env("c", idB, "B", 310))

    // B commits txn 2 inside A's window; A's staged buckets are disjoint
    // from B's diff, so A's commit rebases and lands at txn 3 WITHOUT
    // recomputing — proven below by file identity: the manifest's live
    // files for A's bucket are exactly the files A had already written
    // before B ran (no rewrite happened)
    var filesBeforeB = Set.empty[String]
    DualSink.onBeforeCommit = () => {
      DualSink.onBeforeCommit = () => ()
      filesBeforeB = diskFiles(g, "snapshot")
      DualSink.applyBatch(decoded(bB), g, nBuckets = 4, localMax = guard, retainTxns = 3)
    }
    try DualSink.applyBatch(decoded(bA), g, nBuckets = 4, localMax = guard, retainTxns = 3)
    finally DualSink.onBeforeCommit = () => ()

    assert(TableGroup.currentTxn(g).contains(3L))
    assert(snapState(g)(idA) == "A" && snapState(g)(idB) == "B")
    val liveA = TableGroup.groupManifest(g, 3L).get("snapshot")
      .getOrElse(bucketOf(idA), Seq.empty).toSet
    assert(liveA.nonEmpty && liveA.subsetOf(filesBeforeB),
      s"rebase must publish A's ORIGINAL files: live=$liveA " +
        s"preB=${filesBeforeB.size} files")
  }

  test("streaming wrapper: one transaction per micro-batch, pair stays consistent") {
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-group-stream").toString
    val g = s"$tmp/group"
    val es = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = DualSink.run(es.toDF().toDF("value"), g, s"$tmp/ck", nBuckets = 4)
    try {
      es.addData(b1: _*)
      q.processAllAvailable()
      assert(TableGroup.currentTxn(g).contains(1L))
      assert(snapState(g) == Map(1L -> "a", 2L -> "p"))
      es.addData(b2: _*)
      q.processAllAvailable()
      assert(TableGroup.currentTxn(g).contains(2L))
      assert(snapState(g) == Map(1L -> "b", 3L -> "q"))
      assert(histState(g).map(_._1) == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("retention window: an old reader's transaction stays fully resolvable; vacuum shrinks it") {
    val tmp = Files.createTempDirectory("graft-group-retain").toString
    val g = s"$tmp/group"
    DualSink.applyBatch(decoded(b1), g, nBuckets = 4, retainTxns = 2)
    // a long-running reader resolves transaction 1 NOW and keeps scanning
    val oldReaderFiles = liveFiles(g, "snapshot", 1L)
      .toSeq.map(rel => new File(s"$g/snapshot", rel))
    assert(oldReaderFiles.nonEmpty && oldReaderFiles.forall(_.exists()))

    DualSink.applyBatch(decoded(b2), g, nBuckets = 4, retainTxns = 2)
    assert(TableGroup.currentTxn(g).contains(2L))
    // window of 2: the old reader's log entry AND every file it references
    // survive the commit's GC — it can finish its scan at transaction 1
    assert(oldReaderFiles.forall(_.exists()),
      "retention must keep the old transaction's data files")
    val v1 = TableGroup.readTableAt(spark, g, "snapshot", 1L)
    assert(v1.isDefined)
    assert(v1.get.select($"id", $"name").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "p"), "transaction 1 must still resolve exactly")
    // the live transaction is unaffected by retention
    assert(snapState(g) == Map(1L -> "b", 3L -> "q"))

    // the reader is done: vacuum to a window of 1 — transaction 1's log
    // entry and its superseded files go, the live pair is untouched
    TableGroup.vacuum(g, retainTxns = 1)
    assert(TableGroup.groupManifest(g, 1L).isEmpty)
    assert(snapState(g) == Map(1L -> "b", 3L -> "q"))
    assert(histState(g).map(_._1) == Set(1L, 2L, 3L))
    // nothing unreferenced remains on disk
    Seq("snapshot", "history").foreach { t =>
      assert(diskFiles(g, t) == liveFiles(g, t, 2L), t)
    }
  }

  testBothPaths("true thread-level contention: N parallel committers all land, every effect present, ids dense") { guard =>
    val tmp = Files.createTempDirectory("graft-group-threads").toString
    val g = s"$tmp/group"
    DualSink.applyBatch(decoded(b1), g, nBuckets = 4, localMax = guard, retainTxns = 8)
    // 6 writers race from the same base with single-key batches (some
    // buckets collide at nBuckets=4, so both the rebase and the
    // recompute arbitration run under REAL concurrency, not a scripted
    // interleave). maxAttempts default (5) would be flaky at this
    // contention; give headroom.
    val ids = (200L to 205L)
    val threads = ids.map { k =>
      new Thread(() => DualSink.applyBatch(
        decoded(Seq(env("c", k, s"T$k", 400 + k))), g,
        nBuckets = 4, localMax = guard, retainTxns = 8, maxAttempts = 50,
        gcGraceMs = 120000L)) // winners must not reap in-flight attempts
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "a committer thread hung")

    // serializability: ids are dense 1..7 (base + 6 winners, no gaps, no
    // lost updates), and every writer's row is in the live snapshot
    assert(TableGroup.currentTxn(g).contains(7L))
    val snap = snapState(g)
    ids.foreach(k => assert(snap(k) == s"T$k", s"lost update for key $k"))
    assert(histState(g).map(_._1).intersect(ids.toSet) == ids.toSet)
    // inside the grace window, out-raced orphans may legitimately remain
    // on disk; a later vacuum with the window expired (grace 0 here)
    // leaves disk == live exactly
    TableGroup.vacuum(g, retainTxns = 1, gcGraceMs = 0L)
    Seq("snapshot", "history").foreach { t =>
      assert(diskFiles(g, t) == liveFiles(g, t, 7L), t)
    }
  }

  test("property: a published group manifest reads back exactly (log-entry format round trip)") {
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Gen, Test => SCTest}
    val nameGen = Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(12))
    val filesGen = Gen.nonEmptyListOf(
      nameGen.map(n => s"part-$n.parquet")).map(_.distinct.sorted)
    val entriesGen = Gen.nonEmptyMap(
      Gen.zip(Gen.choose(0L, 4096L), filesGen))
    val groupGen: Gen[TableGroup.GroupManifest] =
      Gen.nonEmptyMap(Gen.zip(nameGen, entriesGen))
    val tmp = Files.createTempDirectory("graft-group-prop").toString
    var v = 0L
    val prop = forAll(groupGen) { m =>
      v += 1
      TableGroup.publish(s"$tmp/g", v, m)
      TableGroup.groupManifest(s"$tmp/g", v).contains(m)
    }
    val res = SCTest.check(prop)(_.withMinSuccessfulTests(100))
    assert(res.passed, res.status.toString)
  }

  /** Failpoint adapter over the [[CommitStore]] seam: injects the
    * object-store failure modes (a lost conditional PUT delivered by the
    * store itself, a crash inside the PUT) at exactly the layer an S3/GCS
    * backend would produce them, while delegating real IO to the local
    * impl. Also counts calls, proving the protocols publish through the
    * seam rather than around it. */
  protected final class FailpointStore(inner: CommitStore) extends CommitStore {
    @volatile var onPutIfAbsent: () => Unit = () => ()
    @volatile var putCalls = 0
    @volatile var swapCalls = 0
    def putIfAbsent(target: File, content: Array[Byte]): Boolean = {
      putCalls += 1
      onPutIfAbsent()
      inner.putIfAbsent(target, content)
    }
    def atomicSwap(target: File, content: Array[Byte]): Unit = {
      swapCalls += 1
      inner.atomicSwap(target, content)
    }
    def get(target: File): Option[Array[Byte]] = inner.get(target)
    def listKeys(dirPrefix: File): Seq[String] = inner.listKeys(dirPrefix)
  }

  testBothPaths("store-seam race: a racer's entry lands INSIDE the conditional PUT; the loser conflicts, recomputes, and both effects survive") { guard =>
    val tmp = Files.createTempDirectory("graft-group-seam-race").toString
    val g = s"$tmp/group"
    DualSink.applyBatch(decoded(b1), g, nBuckets = 4, localMax = guard) // txn 1
    val bA = Seq(env("u", 1, "a-seam", 330))
    val bB = Seq(env("u", 1, "b-seam", 320))
    val fp = new FailpointStore(baseStore)
    // writer B's ENTIRE commit runs in the instant before A's CAS reaches
    // the store — one layer deeper than the onBeforeCommit hook: A has
    // already rendered its manifest for txn 2 when the name is taken, so
    // the loss arrives as the store's own CAS verdict (S3's 412), not as
    // a pre-check
    fp.onPutIfAbsent = () => {
      fp.onPutIfAbsent = () => ()
      DualSink.applyBatch(decoded(bB), g, nBuckets = 4, localMax = guard) // B wins txn 2
    }
    CommitStore.with_(fp) {
      DualSink.applyBatch(decoded(bA), g, nBuckets = 4, localMax = guard)
    }
    // A lost the CAS at 2, recomputed against B's transaction, won 3 —
    // and the contended key resolves by ts (A's 330 > B's 320)
    assert(TableGroup.currentTxn(g).contains(3L))
    assert(snapState(g)(1L) == "a-seam")
    assert(fp.putCalls >= 3, s"expected >=3 CAS attempts, saw ${fp.putCalls}")
    Seq("snapshot", "history").foreach { t =>
      assert(diskFiles(g, t) == liveFiles(g, t, 3L), t)
    }
  }

  testBothPaths("store-seam crash: the conditional PUT itself dies — no durable trace, readers keep the pair, replay converges") { guard =>
    val tmp = Files.createTempDirectory("graft-group-seam-crash").toString
    val g = s"$tmp/group"
    DualSink.applyBatch(decoded(b1), g, nBuckets = 4, localMax = guard)
    val s1 = snapState(g)
    val h1 = histState(g)
    val fp = new FailpointStore(baseStore)
    fp.onPutIfAbsent = () =>
      throw new java.io.IOException("failpoint: connection lost mid-PUT")
    intercept[java.io.IOException] {
      CommitStore.with_(fp) {
        DualSink.applyBatch(decoded(b2), g, nBuckets = 4, localMax = guard)
      }
    }
    // the PUT never became visible: log unadvanced, pair consistent
    assert(TableGroup.currentTxn(g).contains(1L))
    assert(snapState(g) == s1 && histState(g) == h1)
    // replay (default store) recomputes, commits once, GCs the orphans
    DualSink.applyBatch(decoded(b2), g, nBuckets = 4, localMax = guard)
    assert(TableGroup.currentTxn(g).contains(2L))
    assert(snapState(g) == Map(1L -> "b", 3L -> "q"))
    Seq("snapshot", "history").foreach { t =>
      assert(diskFiles(g, t) == liveFiles(g, t, 2L), t)
    }
  }

  test("all commit protocols publish through the shared CommitStore seam") {
    val tmp = Files.createTempDirectory("graft-group-seam-shared").toString
    val fp = new FailpointStore(baseStore)
    CommitStore.with_(fp) {
      // TableGroup: transaction-log CAS → putIfAbsent
      TableGroup.publish(s"$tmp/g", 1L,
        Map("t" -> Map(0L -> Seq("bucket=0/a.parquet"))))
      val putAfterTxn = fp.putCalls
      assert(putAfterTxn >= 1, "TableGroup must CAS through the seam")
      // Real sink path: the scheme marker is a CREATE-if-absent CAS
      // (putIfAbsent — two racing first writers with different schemes
      // must not both win), the _manifest publish an atomicSwap
      CdcStream.upsertBatchBucketed(spark, s"$tmp/solo", nBuckets = 4)(
        decoded(b1), 0L)
      val swapsAfterManifest = fp.swapCalls
      assert(swapsAfterManifest >= 1,
        s"BucketManifest must swap through the seam, saw ${fp.swapCalls}")
      assert(fp.putCalls >= putAfterTxn + 1,
        "the scheme marker must CAS-create through the seam")
      val putAfterScheme = fp.putCalls
      // IndexHome: generation-pointer publish → atomicSwap
      VectorIndexStream.IndexHome.init(s"$tmp/index")
      assert(fp.swapCalls > swapsAfterManifest,
        "IndexHome must swap its pointer through the seam")
      assert(fp.putCalls == putAfterScheme,
        "manifest/pointer swaps must not masquerade as CAS creates")
    }
  }

  testBothPaths("replay after a completed commit is a latest-wins no-op at the next transaction") { guard =>
    val tmp = Files.createTempDirectory("graft-group-noop").toString
    val g = s"$tmp/group"
    DualSink.applyBatch(decoded(b1), g, nBuckets = 4, localMax = guard)
    DualSink.applyBatch(decoded(b2), g, nBuckets = 4, localMax = guard)
    val s = snapState(g)
    val h = histState(g)
    DualSink.applyBatch(decoded(b2), g, nBuckets = 4, localMax = guard) // at-least-once redelivery
    assert(TableGroup.currentTxn(g).contains(3L))
    assert(snapState(g) == s && histState(g) == h)
  }

  test("SQL catalog over the store seam: SHOW TABLES enumerates the LIVE " +
      "log entry's tables; a missing table is TABLE_OR_VIEW_NOT_FOUND, " +
      "never a late scan error") {
    val tmp = Files.createTempDirectory("graft-group-catalog").toString
    val g = s"$tmp/group"
    DualSink.applyBatch(decoded(b1), g, nBuckets = 4)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    // table names come from the published manifest CONTENT through
    // CommitStore (TableGroupObjectStoreSpec re-runs this test with the
    // HTTP conditional-PUT adapter — the listing must work there too)
    val shown = spark.sql(s"SHOW TABLES IN graft.`$g`")
      .select($"tableName").as[String].collect().toSet
    assert(shown == Set("snapshot", "history"), shown.toString)
    // a name the group never committed: a real NOT_FOUND at analysis,
    // so tableExists answers false (the r15 ADVICE contract)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM graft.`$g`.nope").collect()
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.toLowerCase.contains("cannot be found") ||
      e.getMessage.toLowerCase.contains("not found"), e.getMessage)
    // a group directory with NO committed transaction: every name is
    // not-found (no phantom default-schema table)
    val virgin = s"$tmp/virgin"; new File(virgin).mkdirs()
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM graft.`$virgin`.snapshot").collect()
    }
    assert(e2.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e2.getMessage.toLowerCase.contains("not found"), e2.getMessage)
    assert(spark.sql(s"SHOW TABLES IN graft.`$virgin`").count() == 0L)
  }
}
