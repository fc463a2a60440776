package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one commit protocol of every bucketed CDC table. A group is a
  * directory of tables (`<groupDir>/<table>/bucket=<b>/…`) published
  * together by one transaction-log entry: the single `cdc_stream` replica
  * and the single SCD2 history are one-table groups, [[DualSink]] commits
  * a snapshot/history pair (one pair per routed table) — so a pipeline
  * maintaining several tables from the same batch never publishes them
  * apart, and a crash can never leave the set inconsistent.
  *
  * Protocol — a put-if-absent transaction log, the Delta/Iceberg commit
  * discipline carried by plain files:
  *
  *  - Data files are immutable and attempt-OWNED: each attempt writes
  *    through a private staging directory and moves its uniquely-named
  *    part files into the shared `bucket=` directories
  *    ([[BucketManifest.stageWrite]]), so it knows exactly which files it
  *    produced — a commit references only its own writer's files, never
  *    a directory listing that could contain a concurrent attempt's
  *    in-flight output.
  *  - Each transaction N is ONE immutable log entry
  *    `<groupDir>/_txnlog/<N>.commit` whose CONTENT is the whole group
  *    manifest: every table's post-commit live-file set. There are no
  *    per-table manifest files in this protocol — nothing durable exists
  *    for a transaction except its single log entry.
  *  - Publishing the entry is an atomic CREATE-IF-ABSENT (compare-and-swap
  *    on the transaction id), performed through the [[CommitStore]]
  *    adapter: the local-FS default writes the content to a scratch file
  *    and links it to its final name (`link(2)` atomically fails if the
  *    name exists); the object-store mapping is a conditional PUT — S3
  *    `If-None-Match: *`, GCS `if-generation-match: 0`, HDFS
  *    `create(overwrite = false)`. The CAS is the ENTIRE commit: a reader
  *    resolves the highest log entry and reads every table through it, so
  *    it sees transaction N-1's snapshot with N-1's history, or N's with
  *    N's, NEVER a mixed pair, regardless of where any writer died.
  *  - Concurrency: two writers staging against the same base both attempt
  *    id N+1; the CAS admits exactly one. The loser gets
  *    [[TableGroup.ConcurrentCommitException]] and must RECOMPUTE against
  *    the winner's transaction before retrying at N+2 (its merge read
  *    state the winner has since superseded) — optimistic concurrency,
  *    exactly the table-format rule. The publish loop
  *    (`DualSink.applyGroup`) carries that retry; the single-writer
  *    streaming path (foreachBatch is serial) never conflicts.
  *  - Crash anywhere before the CAS: NO durable trace of the transaction
  *    except orphan data files nothing references (invisible to readers —
  *    the manifest content lives inside the unpublished log entry, so
  *    there is no per-table manifest left behind to reason about). The
  *    checkpoint replay recomputes the batch and commits once. Crash after
  *    the CAS: a completed commit; replay is a latest-wins no-op at N+1.
  *    GC of superseded data files and expired log entries runs after a
  *    successful CAS.
  *
  * 100 TB shape: one log entry is O(live files across the group) — a few
  * KB at thousands of buckets — listed/read once per batch on the driver;
  * per-bucket data-file IO is unchanged (append + prune). `retainTxns`
  * keeps a window of transactions fully resolvable (entries AND the data
  * files they reference) so long-running readers never lose files
  * mid-scan; [[vacuum]] shrinks the window offline — the Delta VACUUM
  * discipline. Reference behavior target: the reference applies each
  * change to its replica table inside a DB transaction
  * (postgres.py:33-59); a file-based replica, one table or several
  * derived from one stream, needs this protocol to give readers the same
  * transactional view. */
object TableGroup {

  val TxnLogDir = "_txnlog"
  private val EntrySuffix = ".commit"

  /** A racing writer published the transaction id this commit attempted.
    * The committer's staged state is based on a superseded transaction:
    * recompute against the new live transaction, then retry. */
  final class ConcurrentCommitException(val attempted: Long)
    extends RuntimeException(
      s"transaction $attempted was published by a concurrent committer; " +
        "recompute against the new live transaction and retry")

  /** Test failpoint: crash AFTER all data files are written but BEFORE the
    * log-entry CAS — the largest crash window the protocol has. */
  private[streaming] var crashBeforeCommit: Boolean = false

  /** One table's live-file sets: bucket -> relative parquet paths. */
  type TableEntries = Map[Long, Seq[String]]
  /** The group manifest a log entry carries: table -> its entries. */
  type GroupManifest = Map[String, TableEntries]

  private def logDir(groupDir: String) = new File(groupDir, TxnLogDir)
  private def entryName(v: Long): String = f"$v%020d$EntrySuffix"
  private def entryFile(groupDir: String, v: Long) =
    new File(logDir(groupDir), entryName(v))

  // through the CommitStore seam, like every other read of published
  // state: with an object-store adapter the log entries are not
  // FS-backed and a local listing would report a virgin group
  private def listEntryIds(groupDir: String): Seq[Long] =
    CommitStore.active.listKeys(logDir(groupDir))
      .filter(_.endsWith(EntrySuffix))
      .flatMap(n =>
        scala.util.Try(n.stripSuffix(EntrySuffix).toLong).toOption)
      .sorted

  /** The live transaction id; None before the first commit. */
  def currentTxn(groupDir: String): Option[Long] =
    listEntryIds(groupDir).lastOption

  private def render(group: GroupManifest): String =
    group.toSeq.sortBy(_._1).flatMap { case (t, entries) =>
      entries.toSeq.sortBy(_._1).flatMap { case (b, fs) =>
        fs.sorted.map(f => s"$t\t$b\t$f")
      }
    }.mkString("", "\n", "\n")

  private def parse(text: String): GroupManifest =
    text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val Array(t, b, rel) = line.split("\t", 3)
      (t, b.toLong, rel)
    }.toSeq.groupBy(_._1).map { case (t, rows) =>
      t -> rows.groupBy(_._2).map { case (b, fs) => b -> fs.map(_._3).sorted }
    }

  /** Read transaction `v`'s group manifest. None if its entry is gone
    * (outside the retention window). */
  def groupManifest(groupDir: String, v: Long): Option[GroupManifest] =
    CommitStore.active.get(entryFile(groupDir, v))
      .map(b => parse(new String(b, StandardCharsets.UTF_8)))

  /** Publish `group` as transaction `v` via the create-if-absent CAS. The
    * primitive lives behind [[CommitStore]] (local FS default: scratch
    * write + link(2); object stores: conditional PUT — see the trait doc
    * for the exact S3/GCS/HDFS mapping): content is fully durable before
    * the name is visible, so a reader can never observe a partial entry,
    * and the create either fully succeeds or cleanly reports the name
    * taken. */
  private[streaming] def publish(groupDir: String, v: Long,
      group: GroupManifest): Unit =
    if (!CommitStore.active.putIfAbsent(entryFile(groupDir, v),
        render(group).getBytes(StandardCharsets.UTF_8)))
      throw new ConcurrentCommitException(v)

  /** Resolve `table` at the live transaction (manifest-pruned to `buckets`
    * when given). None before the first commit or when nothing matches. */
  def readTable(spark: SparkSession, groupDir: String, table: String,
      buckets: Option[Seq[Long]] = None): Option[DataFrame] =
    currentTxn(groupDir).flatMap(readTableAt(spark, groupDir, table, _, buckets))

  /** Resolve `table` at a specific retained transaction (the long-running
    * reader's path: resolve once, keep scanning that version). */
  def readTableAt(spark: SparkSession, groupDir: String, table: String,
      v: Long, buckets: Option[Seq[Long]] = None): Option[DataFrame] =
    groupManifest(groupDir, v).flatMap(_.get(table)).flatMap(
      BucketManifest.resolveEntries(spark, s"$groupDir/$table", _, buckets))

  /** One table's contribution to a transaction: which buckets its merge
    * touched and the files the attempt itself wrote into them (from
    * [[BucketManifest.stageWrite]] — ownership is explicit, never
    * inferred from directory listings, so a concurrent attempt's
    * in-flight files in a shared bucket can never be claimed). A changed
    * bucket absent from `owned` was emptied (every key deleted). */
  case class Staged(table: String, changed: Seq[Long],
      owned: Map[Long, Seq[String]])

  /** Publish all staged tables as one transaction. Data files must already
    * be append-written.
    *
    * `baseTxn` is the transaction the staged merges READ (None for a
    * virgin group). The commit is first attempted at `baseTxn + 1`; when
    * a racer has published since the read, LOGICAL conflict detection
    * decides the outcome (the table-format rule): each intervening
    * transaction's changed (table, bucket) set is recovered by diffing
    * its group manifest against its predecessor's, and
    *
    *  - if every intervening transaction touched only buckets DISJOINT
    *    from this commit's staged buckets, the staged delta is REBASED
    *    onto the live manifest and the CAS retried at the next id — the
    *    merges stay valid (nothing they read changed), so disjoint
    *    writers serialize without recomputing anything;
    *  - if any bucket overlaps — or a manifest needed for the diff has
    *    left the retention window, so disjointness cannot be proven —
    *    [[ConcurrentCommitException]] is thrown and the caller must
    *    recompute against the new live transaction. Never a silent lost
    *    update (the commit-time-id alternative would drop the racer's
    *    rows from shared buckets).
    *
    * `retainTxns` is the retention window: the last `retainTxns`
    * transactions stay fully resolvable after the commit (their log
    * entries AND every data file they reference survive GC), so a
    * long-running reader that resolved a transaction up to
    * `retainTxns - 1` commits ago never loses a file mid-scan. The
    * default (1) keeps only the new live transaction: right for
    * single-process tests and the tightest storage bound; production
    * fan-out with concurrent readers sets the window to cover the longest
    * reader, and [[vacuum]] shrinks it later. (A window ≥ 2 also lets
    * disjoint racers rebase — the loser must diff back to its base.)
    *
    * `gcGraceMs` guards in-flight CONCURRENT attempts from the
    * post-commit GC: their files are moved into shared bucket
    * directories before their commit CAS, so an unreferenced file
    * younger than the grace window is skipped (the VACUUM-retention
    * discipline). 0 is the tight single-writer default; concurrent
    * writers set it comfortably above the longest attempt duration. */
  def commit(groupDir: String, staged: Seq[Staged], baseTxn: Option[Long],
      retainTxns: Int = 1, maxAttempts: Int = 20,
      gcGraceMs: Long = 0L): Long = {
    require(retainTxns >= 1, s"retainTxns must be >= 1, got $retainTxns")
    var base = baseTxn
    var attempts = 0
    while (true) {
      attempts += 1
      val next = base.getOrElse(0L) + 1L
      if (attempts > maxAttempts) throw new ConcurrentCommitException(next)
      val cur = currentTxn(groupDir)
      if (cur.exists(_ >= next)) {
        // racer(s) landed since our base: rebase if provably disjoint
        assertDisjoint(groupDir, staged, base, cur.get, next)
        base = cur
      } else {
        // a base we were GIVEN but cannot read is never an empty group:
        // defaulting would publish a manifest dropping every live file of
        // untouched tables/buckets. Unreachable under the dense-id /
        // never-GC-max invariant — so if it happens, something external
        // (a mis-set vacuum racing the read) broke the log: fail loud.
        val oldGroup: GroupManifest = base match {
          case None => Map.empty
          case Some(b) => groupManifest(groupDir, b).getOrElse(
            throw new IllegalStateException(
              s"base transaction $b has no readable log entry — refusing " +
                "to commit a manifest that would drop untouched tables' " +
                "live files (did an external vacuum outrun the retention " +
                "window?)"))
        }
        // the post-commit live set: the base entries with every touched
        // bucket replaced by the files THIS attempt wrote (owned — an
        // emptied bucket drops out)
        val nextGroup: GroupManifest = oldGroup ++ staged.map { st =>
          st.table -> ((oldGroup.getOrElse(st.table, Map.empty)
            -- st.changed) ++ st.owned.filter(_._2.nonEmpty))
        }
        if (crashBeforeCommit)
          throw new IllegalStateException("failpoint: crash before commit CAS")
        val won =
          try { publish(groupDir, next, nextGroup); true } // the commit
          catch { case _: ConcurrentCommitException => false } // lost the CAS — loop
        if (won) {
          // A successful CAS at `next` IS the commit — no post-publish
          // re-check is needed (or sound: a later entry appearing now is
          // a successor legitimately built ON ours, and retracting ours
          // would corrupt it). The stale-slot hazard the CAS alone can't
          // see — our `next` was committed long ago and vacuumed away, so
          // the name is free again — cannot reach this branch: ids are
          // dense (every commit is then-max + 1), gcLog never deletes the
          // maximum entry, so if slot `next` was ever vacuumed, an entry
          // > next still exists and the pre-CAS currentTxn check above
          // already sent us down the rebase/conflict path.
          staged.foreach(st => gcTable(groupDir, st.table, next,
            retainTxns, Some(st.changed), gcGraceMs))
          gcLog(groupDir, next, retainTxns, gcGraceMs)
          return next
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Prove every transaction in (base, cur] touched only buckets disjoint
    * from `staged`'s, by diffing consecutive group manifests; throw
    * [[ConcurrentCommitException]] on overlap or when a manifest needed
    * for the chain has been GC'd (disjointness unprovable). */
  private def assertDisjoint(groupDir: String, staged: Seq[Staged],
      base: Option[Long], cur: Long, attempted: Long): Unit = {
    val ours: Map[String, Set[Long]] =
      staged.map(st => st.table -> st.changed.toSet).toMap
    var prev: GroupManifest = base match {
      case None => Map.empty
      case Some(b) => groupManifest(groupDir, b)
        .getOrElse(throw new ConcurrentCommitException(attempted))
    }
    ((base.getOrElse(0L) + 1L) to cur).foreach { t =>
      val m = groupManifest(groupDir, t)
        .getOrElse(throw new ConcurrentCommitException(attempted))
      val touched: Iterator[(String, Long)] =
        (m.keySet ++ prev.keySet).iterator.flatMap { table =>
          val a = prev.getOrElse(table, Map.empty)
          val b = m.getOrElse(table, Map.empty)
          (a.keySet ++ b.keySet).iterator
            .filter(bk => a.get(bk) != b.get(bk))
            .map(table -> _)
        }
      if (touched.exists { case (table, bk) =>
          ours.get(table).exists(_.contains(bk)) })
        throw new ConcurrentCommitException(attempted)
      prev = m
    }
  }

  /** Transaction ids in the retention window that still have a log entry,
    * newest last. */
  private def keptVersions(groupDir: String, live: Long,
      retainTxns: Int): Seq[Long] = {
    // one seam LIST instead of per-version existence probes (each a GET
    // on an object store)
    val present = listEntryIds(groupDir).toSet
    (math.max(1L, live - retainTxns + 1) to live).filter(present)
  }

  /** Union of the kept transactions' live-file sets for one table — what
    * GC must not touch. */
  private def keptEntries(groupDir: String, table: String,
      versions: Seq[Long]): TableEntries =
    versions.flatMap(groupManifest(groupDir, _).flatMap(_.get(table)).toSeq)
      .flatMap(_.toSeq)
      .groupBy(_._1)
      .map { case (b, fs) => b -> fs.flatMap(_._2).distinct.sorted }

  private def bucketDirs(dir: String): Seq[Long] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.getName.stripPrefix("bucket=").toLong)

  private def gcTable(groupDir: String, table: String, live: Long,
      retainTxns: Int, buckets: Option[Seq[Long]],
      graceMs: Long = 0L): Unit = {
    val dir = s"$groupDir/$table"
    val keep = keptVersions(groupDir, live, retainTxns)
    BucketManifest.gcBuckets(dir, buckets.getOrElse(bucketDirs(dir)),
      keptEntries(groupDir, table, keep), graceMs)
    // crashed attempts can leave staging dirs behind (a completed
    // stageWrite removes its own); only reap settled ones
    val now = System.currentTimeMillis()
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("stage-") &&
        now - d.lastModified() >= graceMs) // >= : graceMs=0 reaps same-tick
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  /** Drop log entries below the retention window, plus scratch files a
    * crashed publish left behind. The live entry always survives, and a
    * scratch file younger than `graceMs` is skipped — a CONCURRENT
    * publisher sits between its Files.write(tmp) and Files.createLink
    * exactly there, and reaping its scratch would turn its CAS into a
    * NoSuchFileException instead of a clean conflict. */
  private def gcLog(groupDir: String, live: Long, retainTxns: Int,
      graceMs: Long = 0L): Unit = {
    val floor = math.max(1L, live - retainTxns + 1)
    val now = System.currentTimeMillis()
    Option(logDir(groupDir).listFiles()).toSeq.flatten.foreach { f =>
      val isExpired = f.getName.endsWith(EntrySuffix) &&
        f.getName.stripSuffix(EntrySuffix).toLong < floor
      val isStaleScratch = f.getName.contains(".tmp-") &&
        now - f.lastModified() >= graceMs // >= : graceMs=0 reaps same-tick
      if (isExpired || isStaleScratch) f.delete()
    }
  }

  /** Shrink the retention window offline: keep the last `retainTxns`
    * transactions and collect everything older (log entries and the data
    * files only they referenced). Sweeps ALL bucket directories, so
    * orphans a crashed or out-raced writer left in buckets no later
    * commit touched are collected too. */
  def vacuum(groupDir: String, retainTxns: Int = 1,
      gcGraceMs: Long = 0L): Unit =
    currentTxn(groupDir).foreach { live =>
      tablesOf(groupDir).foreach(t =>
        gcTable(groupDir, t, live, retainTxns, None, gcGraceMs))
      gcLog(groupDir, live, retainTxns, gcGraceMs)
    }

  /** The group's tables: subdirectories holding bucketed data (everything
    * except the transaction log). */
  private def tablesOf(groupDir: String): Seq[String] =
    Option(new File(groupDir).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName != TxnLogDir)
      .map(_.getName)
}

/** The publish loop every bucketed CDC sink runs, and its flagship use:
  * maintain the latest-state snapshot AND the SCD2 history from the SAME
  * decoded micro-batch, committed together. Each batch is prepared once
  * ([[BucketedMerge.prepare]] — one checkpoint feeds every merge), staged
  * under each table's merge kind, and published as one [[TableGroup]]
  * transaction. The single-table sinks (`CdcStream.upsertBatchBucketed`,
  * `Scd2Stream.applyBatchBucketed`) run the same loop over one table. */
object DualSink {

  val SnapshotTable = "snapshot"
  val HistoryTable = "history"

  /** Test hook: runs after an attempt's data files are written, just
    * before its commit CAS — the window where a racing committer can win
    * the transaction id. Specs use it to interleave a competing writer. */
  private[streaming] var onBeforeCommit: () => Unit = () => ()

  /** Apply one decoded envelope batch to both tables transactionally.
    * `retainTxns` = how many transactions stay readable after the commit
    * (see [[TableGroup.commit]]).
    *
    * Optimistic concurrency: an attempt whose staged buckets OVERLAP an
    * intervening transaction's recomputes BOTH merges against the
    * winner's transaction and retries (disjoint attempts rebase inside
    * [[TableGroup.commit]] without re-entering this loop; an out-raced
    * attempt's data files are unreferenced orphans that GC collects).
    * The streaming path (foreachBatch, serial) never conflicts;
    * `maxAttempts` bounds pathological contention, and concurrent
    * writers must pass `gcGraceMs` above their longest attempt duration
    * (and retainTxns ≥ 2) so a winner's GC never reaps a still-committing
    * attempt's files. */
  def applyBatch(decoded: DataFrame, groupDir: String,
      nBuckets: Int = 64, retainTxns: Int = 1, maxAttempts: Int = 5,
      gcGraceMs: Long = 0L): Unit =
    applyGroup(Seq(decoded -> Pair), groupDir, nBuckets, retainTxns,
      maxAttempts, gcGraceMs)

  /** MULTI-TABLE [[applyBatch]] — the reference's `schema.include.list`
    * topology as a live sink (`register-postgres.json:12`): each (name,
    * decoded slice) maintains its own `<name>_snapshot` /
    * `<name>_history` pair, and ALL the staged merges publish as ONE
    * group transaction — a reader at any version sees every routed
    * table at the same consistent point in the change stream, exactly
    * the cross-table atomicity the single-pair sink gives its two
    * tables. Same optimistic-retry contract as [[applyBatch]]; per-table
    * exchange widths are sized by each slice's own row count. */
  def applyBatchMulti(slices: Seq[(String, DataFrame)], groupDir: String,
      nBuckets: Int = 64, retainTxns: Int = 1, maxAttempts: Int = 5,
      gcGraceMs: Long = 0L): Unit =
    applyGroup(slices.map { case (name, decoded) =>
      require(name.nonEmpty && !name.contains("/") && !name.contains("\\") &&
        !name.startsWith("_") && !name.startsWith("."),
        s"multi-table route: illegal table name '$name' (a source.table " +
          "value must be a plain name — path separators or reserved " +
          "prefixes would escape or collide with the group's metadata)")
      decoded -> Pair.map { case (t, kind) => (s"${name}_$t", kind) }
    }, groupDir, nBuckets, retainTxns, maxAttempts, gcGraceMs)

  /** The snapshot/history pair a batch maintains. */
  private val Pair: Seq[(String, BucketedMerge.Kind)] = Seq(
    SnapshotTable -> BucketedMerge.Latest, HistoryTable -> BucketedMerge.Scd2)

  /** The publish loop: prepare every slice once for its tables, then per
    * attempt read the base transaction, merge each table against it,
    * stage every table and publish them all as one transaction. */
  private[streaming] def applyGroup(
      slices: Seq[(DataFrame, Seq[(String, BucketedMerge.Kind)])],
      groupDir: String, nBuckets: Int, retainTxns: Int = 1,
      maxAttempts: Int = 5, gcGraceMs: Long = 0L): Unit = {
    val preps = slices.flatMap { case (decoded, tables) =>
      BucketedMerge.prepare(decoded, nBuckets,
        tables.map { case (t, _) => s"$groupDir/$t" }: _*).map(_ -> tables)
    }
    if (preps.isEmpty) return
    var attempt = 0
    var committed = false
    while (!committed) {
      attempt += 1
      try {
        // capture the base transaction BEFORE the merge reads: the commit
        // is attempted at base+1, so anything a racer publishes after this
        // point turns into a clean conflict, never a lost update. Existing
        // slices resolve through its manifest — orphans of crashed or
        // out-raced attempts never re-enter.
        val base = TableGroup.currentTxn(groupDir)
        val live = base.flatMap(TableGroup.groupManifest(groupDir, _))
          .getOrElse(Map.empty[String, TableGroup.TableEntries])
        // stage: each attempt learns exactly which files IT wrote
        // (explicit ownership — see BucketManifest.stageWrite). A pair's
        // two staging writes touch different table directories — overlap
        // them (par2 settles BOTH before a failure propagates, so a
        // crashed attempt never leaves a zombie sibling still moving files
        // while the retry starts); the commit below still publishes every
        // table together, so atomicity is untouched.
        val staged = graft.Phase.timed("dual.stage")(preps.flatMap {
          case (b, tables) =>
            def stage(table: String, kind: BucketedMerge.Kind) =
              TableGroup.Staged(table, b.changed, b.stage(kind,
                live.getOrElse(table, Map.empty), s"$groupDir/$table"))
            tables match {
              case Seq((t1, k1), (t2, k2)) =>
                val (s1, s2) = graft.Par.par2(stage(t1, k1), stage(t2, k2))
                Seq(s1, s2)
              case ts => ts.map { case (t, k) => stage(t, k) }
            }
        })
        onBeforeCommit()
        graft.Phase.timed("dual.commit")(
          TableGroup.commit(groupDir, staged, base, retainTxns,
            gcGraceMs = gcGraceMs))
        committed = true
      } catch {
        case e: TableGroup.ConcurrentCommitException =>
          if (attempt >= maxAttempts) throw e
        // else: recompute against the winner's transaction and retry
      }
    }
  }

  def readSnapshot(spark: SparkSession, groupDir: String): Option[DataFrame] =
    TableGroup.readTable(spark, groupDir, SnapshotTable)

  def readHistory(spark: SparkSession, groupDir: String): Option[DataFrame] =
    TableGroup.readTable(spark, groupDir, HistoryTable)

  /** Streaming wrapper: raw Debezium-envelope values → decoded → one
    * transactional dual merge per micro-batch. Commit-after-apply: the
    * checkpoint advances only after the group commit, so a crash replays
    * the batch (a latest-wins no-op past a completed CAS). */
  def run(rawValues: DataFrame, groupDir: String, checkpointDir: String,
      nBuckets: Int = 64,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    rawValues.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(graft.cdc.Envelope.assertKnownOps(
          graft.cdc.Envelope.decode(batch)), groupDir, nBuckets)
      }
      .start()
}
