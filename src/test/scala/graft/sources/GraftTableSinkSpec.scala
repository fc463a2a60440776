package graft.sources

import java.io.File
import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.{CdcStream, DualSink, TableGroup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The `graft-table` DataSource V2 streaming SINK: commit-after-apply
  * (reference `app/consumer/consumer.py:74-75`) proven at Spark's
  * `StreamingWrite` epoch commit/abort API. The end-to-end shape is the
  * full connector pair — `readStream.format("graft-cdc")` →
  * `writeStream.format("graft-table")` — with epoch commits landing as
  * transaction-log CAS entries on the dual-table group. */
class GraftTableSinkSpec extends SparkSpec with BothLookupPaths {
  import spark.implicits._

  private def env(op: String, id: Long, name: String, ts: Long): String = {
    val row = s"""{"id":$id,"name":"$name","nationkey":1,"acctbal":10.0,"mktsegment":"X"}"""
    val before = if (op == "d") row else "null"
    val after = if (op == "d") "null" else row
    s"""{"schema":null,"payload":{"before":$before,"after":$after,"source":{"table":"customers","lsn":$ts},"op":"$op","ts_ms":$ts}}"""
  }

  private def runPipe(root: String, topic: String, group: String,
      ck: String): Unit = {
    val q = spark.readStream
      .format("graft-cdc")
      .options(CdcStream.kafkaOptions(root, topic))
      .load()
      .writeStream
      .format("graft-table")
      .option("path", group)
      .option("checkpointLocation", ck)
      .option("nBuckets", "4")
      .option("retainTxns", "2")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** No plan of a connector read holds a row-source (V1) scan. */
  private def assertNoRowSourceScan(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case r: RowDataSourceScanExec => r }.isEmpty,
      plan.toString)
  }

  /** A non-lookup connector read plans Spark's parquet scan over the
    * manifest-file relation — the same leaf `TableGroup.readTableAt`
    * builds. */
  private def assertManifestScan(df: DataFrame): Unit = {
    assertNoRowSourceScan(df)
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.relation.location
      .isInstanceOf[graft.streaming.ManifestFileIndex]), plan.toString)
  }

  test("connector pair end to end: graft-cdc read → graft-table epoch commits") {
    val tmp = Files.createTempDirectory("graft-tbl-e2e").toString
    val root = s"$tmp/log"; val group = s"$tmp/group"
    GraftCdcLog.append(root, "t", 0, Seq(
      env("r", 1, "a", 100), env("r", 2, "b", 110), env("u", 1, "a2", 200)))
    GraftCdcLog.append(root, "t", 1, Seq(
      env("r", 3, "c", 120), env("d", 2, "b", 210)))
    runPipe(root, "t", group, s"$tmp/ck1")

    val snap = DualSink.readSnapshot(spark, group).get
      .select($"id", $"name").as[(Long, String)].collect().toSet
    assert(snap == Set((1L, "a2"), (3L, "c")))
    val hist = DualSink.readHistory(spark, group).get
      .select($"id", $"valid_from", $"valid_to")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(hist == Set((1L, 100L, Some(200L)), (1L, 200L, None),
      (2L, 110L, Some(210L)), (3L, 120L, None)))
    // the epoch landed as a txn-log CAS entry and left a committed marker
    assert(TableGroup.currentTxn(group).contains(1L))
    val epochs = new File(s"$group/_epochs").listFiles()(0).listFiles()
    assert(epochs.length == 1)
    // staging fully swept after commit
    assert(!new File(s"$group/_staging").exists() ||
      new File(s"$group/_staging").listFiles().forall(_.listFiles().isEmpty))
  }

  test("connector READ: version-as-of resolves the txn log; live default; " +
      "pruning pushes into the scan; bad versions fail loudly") {
    val tmp = Files.createTempDirectory("graft-tbl-read").toString
    val root = s"$tmp/log"; val group = s"$tmp/group"; val ck = s"$tmp/ck"
    GraftCdcLog.append(root, "t", 0, Seq(env("r", 1, "a", 100)))
    runPipe(root, "t", group, ck) // txn 1: {1 -> a}
    GraftCdcLog.append(root, "t", 0, Seq(env("u", 1, "a2", 200)))
    runPipe(root, "t", group, ck) // txn 2: {1 -> a2}; retainTxns=2 keeps 1

    def read(v: Option[Long], table: String = "snapshot") = {
      val r = spark.read.format("graft-table")
        .option("path", group).option("table", table)
      v.foreach(x => r.option("versionAsOf", x.toString))
      r.load()
    }
    // default = live transaction; byte-equal to the Scala API read
    assert(read(None).select($"id", $"name").as[(Long, String)]
      .collect().toSet == Set((1L, "a2")))
    // version-as-of resolves the RETAINED previous transaction
    assert(read(Some(1L)).select($"id", $"name").as[(Long, String)]
      .collect().toSet == Set((1L, "a")))
    // the history table reads through the same option surface
    assert(read(None, table = "history")
      .select($"id", $"valid_from", $"valid_to")
      .as[(Long, Long, Option[Long])].collect().toSet ==
      Set((1L, 100L, Some(200L)), (1L, 200L, None)))
    // column pruning reaches the connector scan: the planned row-source
    // outputs only the requested column
    val pruned = read(Some(2L)).select($"name")
    val plan = pruned.queryExecution.executedPlan.toString()
    assert(plan.contains("ReadSchema: struct<name:string>"), plan.take(800))
    assert(!plan.contains("acctbal"), "pruning failed:\n" + plan.take(800))
    assert(pruned.as[String].collect().toSeq == Seq("a2"))
    assertManifestScan(pruned)
    // a version outside the retention window / unknown table / no commits
    intercept[IllegalArgumentException](read(Some(99L)).collect())
    intercept[IllegalArgumentException](
      read(None, table = "nope").collect())
    intercept[IllegalArgumentException](
      spark.read.format("graft-table").option("path", s"$tmp/empty")
        .option("versionAsOf", "1").load().collect())
  }

  test("a second AvailableNow run appends only the new records as a new txn") {
    val tmp = Files.createTempDirectory("graft-tbl-incr").toString
    val root = s"$tmp/log"; val group = s"$tmp/group"; val ck = s"$tmp/ck"
    GraftCdcLog.append(root, "t", 0, Seq(env("r", 1, "a", 100)))
    runPipe(root, "t", group, ck)
    assert(TableGroup.currentTxn(group).contains(1L))
    GraftCdcLog.append(root, "t", 0, Seq(env("u", 1, "a2", 200)))
    runPipe(root, "t", group, ck)
    assert(TableGroup.currentTxn(group).contains(2L))
    val snap = DualSink.readSnapshot(spark, group).get
      .select($"id", $"name").as[(Long, String)].collect().toSet
    assert(snap == Set((1L, "a2")))
    // time travel to txn 1 still resolves (retainTxns=2)
    val at1 = TableGroup.readTableAt(spark, group, DualSink.SnapshotTable, 1L)
      .get.select($"id", $"name").as[(Long, String)].collect().toSet
    assert(at1 == Set((1L, "a")))
  }

  test("batch write: the initial snapshot load is one transaction; " +
      "streaming applies on top of it") {
    val tmp = Files.createTempDirectory("graft-tbl-batch").toString
    val root = s"$tmp/log"; val group = s"$tmp/group"
    // bootstrap: a plain DataFrame append — the backfill path
    val seed = Seq(env("r", 1, "a", 100), env("r", 2, "b", 110))
      .toDF("value")
    seed.write.format("graft-table")
      .option("path", group).option("nBuckets", "4")
      .option("retainTxns", "2")
      .mode("append").save()
    assert(TableGroup.currentTxn(group).contains(1L))
    assert(DualSink.readSnapshot(spark, group).get
      .select($"id", $"name").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // no staging left behind
    assert(!new File(s"$group/_staging").exists() ||
      new File(s"$group/_staging").listFiles().forall(_.listFiles().isEmpty))
    // the change stream applies ON TOP as transaction 2
    GraftCdcLog.append(root, "t", 0, Seq(env("u", 1, "a2", 200)))
    runPipe(root, "t", group, s"$tmp/ck")
    assert(TableGroup.currentTxn(group).contains(2L))
    assert(DualSink.readSnapshot(spark, group).get
      .select($"id", $"name").as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b")))
    // the bootstrap transaction still time-travels
    assert(TableGroup.readTableAt(spark, group, DualSink.SnapshotTable, 1L)
      .get.select($"id", $"name").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("replayed epoch commit is a no-op past the marker (exactly-once)") {
    val tmp = Files.createTempDirectory("graft-tbl-replay").toString
    val group = s"$tmp/group"
    val write = new GraftTableStreamingWrite(
      group, "q1", 0, false, 4, 2)
    val staging = GraftTableSink.stagingDir(group, "q1", 0L)
    staging.mkdirs()
    val f = new File(staging, "part-00000-0.jsonl")
    Files.write(f.toPath,
      (env("r", 1, "a", 100) + "\n").getBytes("UTF-8"))
    val msgs: Array[WriterCommitMessage] =
      Array(GraftStagedFile(f.getAbsolutePath, 1L))
    write.commit(0L, msgs)
    assert(TableGroup.currentTxn(group).contains(1L))
    // the engine re-delivers the SAME epoch after a crash: staged files
    // are re-written by re-executed tasks, commit is called again
    staging.mkdirs()
    Files.write(f.toPath,
      (env("r", 1, "a", 100) + "\n").getBytes("UTF-8"))
    write.commit(0L, msgs)
    assert(TableGroup.currentTxn(group).contains(1L)) // no second txn
    val snap = DualSink.readSnapshot(spark, group).get
    assert(snap.count() == 1L)
  }

  test("abort deletes the epoch's staged files and publishes nothing") {
    val tmp = Files.createTempDirectory("graft-tbl-abort").toString
    val group = s"$tmp/group"
    val write = new GraftTableStreamingWrite(
      group, "q2", 0, false, 4, 1)
    val staging = GraftTableSink.stagingDir(group, "q2", 0L)
    staging.mkdirs()
    val f = new File(staging, "part-00000-0.jsonl")
    Files.write(f.toPath, (env("r", 1, "a", 100) + "\n").getBytes("UTF-8"))
    write.abort(0L, Array(GraftStagedFile(f.getAbsolutePath, 1L)))
    assert(!staging.exists())
    assert(TableGroup.currentTxn(group).isEmpty)
  }

  test("tombstones (null value) are skipped by the stage writer, and the " +
      "writer rejects inputs without a value column") {
    val tmp = Files.createTempDirectory("graft-tbl-tomb").toString
    val group = s"$tmp/group"
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(env("r", 1, "a", 100))
    // null tombstone mixed in via a transform
    val src = mem.toDF().select(
      when(col("value").contains("never"), lit(null)).otherwise(col("value"))
        .as("value"))
    val q = src.writeStream.format("graft-table")
      .option("path", group)
      .option("checkpointLocation", s"$tmp/ck")
      .option("nBuckets", "4")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(DualSink.readSnapshot(spark, group).get.count() == 1L)

    val bad = intercept[Exception] {
      val q2 = mem.toDF().select(col("value").as("v"))
        .writeStream.format("graft-table")
        .option("path", s"$tmp/group2")
        .option("checkpointLocation", s"$tmp/ck2")
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()
    }
    assert(bad.getMessage != null)
  }

  testBothLookups("connector READ pushdown: filters reach the scan (PushedFilters), " +
      "key equality prunes the FILE LIST to the key's bucket, and a " +
      "residue hitting no live bucket yields an empty result") {
    val tmp = Files.createTempDirectory("graft-tbl-push").toString
    val root = s"$tmp/log"; val group = s"$tmp/group"; val ck = s"$tmp/ck"
    // keys bucketed by pmod(murmur3(id), 4) — compute the layout Spark
    // itself will produce, then insert only keys of buckets {0,1,2}:
    // bucket 3 stays EMPTY so a lookup routed there exercises the
    // zero-live-files path
    val bucketOf: Map[Long, Long] = spark.range(1, 200)
      .select($"id", pmod(hash($"id"), lit(4)).cast("long").as("b"))
      .as[(Long, Long)].collect().toMap
    val keys = (1L to 199L).filter(k => bucketOf(k) != 3L).take(40)
    assert(keys.map(bucketOf).toSet == Set(0L, 1L, 2L))
    val missing = (1L to 199L).find(k => bucketOf(k) == 3L).get
    GraftCdcLog.append(root, "t", 0,
      keys.map(k => env("r", k, s"n$k", 100 + k)))
    runPipe(root, "t", group, ck) // nBuckets=4 (runPipe)

    def read() = spark.read.format("graft-table").option("path", group).load()

    // unconstrained read: every live bucket's files
    assert(read().select($"id").as[Long].collect().toSet == keys.toSet)
    val (allFiles, allBuckets) =
      (GraftTableReadStats.lastFiles, GraftTableReadStats.lastBuckets)
    assert(allBuckets == 3 && allFiles >= 3)

    // keyed lookup: PushedFilters in the plan, ONE bucket's files read
    val target = keys.find(_ == 7L).getOrElse(keys.head)
    val one = read().filter($"id" === target).select($"id", $"name")
    val plan = one.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters:") && plan.contains("EqualTo(id,"),
      plan.take(1200))
    assert(one.as[(Long, String)].collect().toSeq ==
      Seq((target, s"n$target")))
    assertNoRowSourceScan(one)
    assert(GraftTableReadStats.lastBuckets == 1,
      s"expected 1 bucket, read ${GraftTableReadStats.lastBuckets}")
    assert(GraftTableReadStats.lastFiles < allFiles)

    // IN over keys of two distinct buckets: exactly those buckets
    val twoBuckets = keys.groupBy(bucketOf).values.map(_.head).take(2).toSeq
    assert(read().filter($"id".isin(twoBuckets: _*)).count() == 2)
    assert(GraftTableReadStats.lastBuckets ==
      twoBuckets.map(bucketOf).distinct.size)

    // a key routed to the EMPTY bucket: zero files selected, empty result
    // (the valid-empty path, not a resolution failure)
    assert(read().filter($"id" === missing).count() == 0L)
    assert(GraftTableReadStats.lastBuckets == 0 &&
      GraftTableReadStats.lastFiles == 0)

    // a range predicate pushes (inner parquet row-group stats) but pins
    // no bucket: every live bucket stays in the file list
    val range = read().filter($"id" > lit(0L))
    val rplan = range.queryExecution.executedPlan.toString()
    assert(rplan.contains("PushedFilters:") &&
      rplan.contains("GreaterThan(id,"), rplan.take(1200))
    assert(range.count() == keys.size.toLong)
    assert(GraftTableReadStats.lastBuckets == 3)
    assertManifestScan(range)
    assertManifestScan(read().select($"id"))
  }

  testBothLookups("a connector DataFrame reads the version it was analyzed " +
      "at: a later commit inside retainTxns does not change its rows") {
    val tmp = Files.createTempDirectory("graft-tbl-pin").toString
    val root = s"$tmp/log"; val group = s"$tmp/group"; val ck = s"$tmp/ck"
    GraftCdcLog.append(root, "t", 0, Seq(env("r", 1, "a", 100),
      env("r", 2, "b", 110)))
    runPipe(root, "t", group, ck) // txn 1: {1 -> a, 2 -> b}
    def read() = spark.read.format("graft-table").option("path", group).load()
    // analyzed (and so pinned) at txn 1, executed after txn 2
    val all = read().select($"id", $"name")
    val keyed = read().filter($"id" === 1L).select($"id", $"name")
    GraftCdcLog.append(root, "t", 0, Seq(env("u", 1, "a2", 200)))
    runPipe(root, "t", group, ck) // txn 2: {1 -> a2}; retainTxns=2 keeps 1
    assert(TableGroup.currentTxn(group).contains(2L))
    assert(all.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    assert(keyed.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // a DataFrame analyzed now reads the new live transaction
    assert(read().filter($"id" === 1L).select($"name").as[String]
      .collect().toSeq == Seq("a2"))
  }

  testBothLookups("a connector DataFrame whose version has left retention " +
      "fails loudly instead of returning another version's rows") {
    val tmp = Files.createTempDirectory("graft-tbl-gone").toString
    val root = s"$tmp/log"; val group = s"$tmp/group"; val ck = s"$tmp/ck"
    GraftCdcLog.append(root, "t", 0, Seq(env("r", 1, "a", 100)))
    runPipe(root, "t", group, ck) // txn 1: {1 -> a}
    def read() = spark.read.format("graft-table").option("path", group).load()
    val all = read().select($"id", $"name")
    val keyed = read().filter($"id" === 1L).select($"id", $"name")
    // two more updates of the same key: with retainTxns=2, the commit of
    // txn 3 collects txn 1's file of that bucket
    GraftCdcLog.append(root, "t", 0, Seq(env("u", 1, "a2", 200)))
    runPipe(root, "t", group, ck)
    GraftCdcLog.append(root, "t", 0, Seq(env("u", 1, "a3", 300)))
    runPipe(root, "t", group, ck)
    assert(TableGroup.currentTxn(group).contains(3L))
    Seq(all, keyed).foreach { df =>
      val e = intercept[Exception](df.collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[java.io.FileNotFoundException] ||
        String.valueOf(t.getMessage).contains("does not exist")),
        chain.map(_.toString).mkString("\n"))
    }
    // the live read is unaffected
    assert(read().select($"name").as[String].collect().toSeq == Seq("a3"))
  }

  testBothLookups("SQL catalog: VERSION AS OF resolves through the pinned scan, the " +
      "live read is the default, pushdown still prunes, DDL refuses") {
    val tmp = Files.createTempDirectory("graft-tbl-sql").toString
    val root = s"$tmp/log"; val group = s"$tmp/group"; val ck = s"$tmp/ck"
    GraftCdcLog.append(root, "t", 0, Seq(env("r", 1, "a", 100)))
    runPipe(root, "t", group, ck) // txn 1: {1 -> a}
    GraftCdcLog.append(root, "t", 0, Seq(env("u", 1, "a2", 200)))
    runPipe(root, "t", group, ck) // txn 2: {1 -> a2}; retainTxns=2 keeps 1
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    def q(sql: String) = spark.sql(sql).as[(Long, String)].collect().toSeq
    assert(q(s"SELECT id, name FROM graft.`$group`.snapshot") ==
      Seq((1L, "a2")))
    assert(q(
      s"SELECT id, name FROM graft.`$group`.snapshot VERSION AS OF 1") ==
      Seq((1L, "a")))
    assert(q(
      s"SELECT id, name FROM graft.`$group`.snapshot VERSION AS OF 2") ==
      Seq((1L, "a2")))
    // the SQL text reaches the SAME scan: keyed equality still prunes the
    // file list through the stamped scheme
    spark.sql(s"SELECT id, name FROM graft.`$group`.snapshot " +
      "WHERE id = 1").collect()
    assert(GraftTableReadStats.lastBuckets == 1)
    // history is addressable too; DDL refuses (read-only catalog)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$group`.history")
      .as[Long].head() == 2L)
    // SHOW TABLES enumerates the LIVE log entry's tables (manifest
    // content through the CommitStore seam — never a directory walk)
    val shown = spark.sql(s"SHOW TABLES IN graft.`$group`")
      .select($"tableName").as[String].collect().toSet
    assert(shown == Set("snapshot", "history"), shown.toString)
    val e = intercept[Exception] {
      spark.sql(s"DROP TABLE graft.`$group`.snapshot")
    }
    assert(e.getMessage.toLowerCase.contains("read-only"))
  }

  test("multi-table route: one stream fans per-source-table pairs inside " +
      "ONE transaction per epoch; replay appends as a new txn; a null " +
      "route fails loudly") {
    val tmp = Files.createTempDirectory("graft-tbl-multi").toString
    val root = s"$tmp/log"; val group = s"$tmp/group"; val ck = s"$tmp/ck"
    def supEnv(op: String, id: Long, name: String, ts: Long): String = {
      val row = s"""{"id":$id,"name":"$name","nationkey":2,"acctbal":5.0}"""
      s"""{"schema":null,"payload":{"before":null,"after":$row,"source":{"table":"suppliers","lsn":$ts},"op":"$op","ts_ms":$ts}}"""
    }
    GraftCdcLog.append(root, "t", 0, Seq(
      env("r", 1, "a", 100), supEnv("r", 1, "s1", 105),
      env("r", 2, "b", 110), supEnv("r", 2, "s2", 115)))
    def pipe(customersDdl: Option[String] = None,
        ckDir: String = ck): Unit = {
      val w0 = spark.readStream.format("graft-cdc")
        .options(CdcStream.kafkaOptions(root, "t"))
        .load()
        .writeStream.format("graft-table")
        .option("path", group)
        .option("checkpointLocation", ckDir)
        .option("nBuckets", "4")
        .option("retainTxns", "2")
        .option("routeBySourceTable", "true")
        .option("tableSchema.suppliers",
          "id BIGINT, name STRING, nationkey INT, acctbal DOUBLE")
      val q = customersDdl
        .fold(w0)(d => w0.option("tableSchema.customers", d))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    pipe()
    // one epoch = ONE transaction covering all four routed tables
    assert(TableGroup.currentTxn(group).contains(1L))
    val m1 = TableGroup.groupManifest(group, 1L).get
    assert(m1.keySet == Set("customers_snapshot", "customers_history",
      "suppliers_snapshot", "suppliers_history"))
    def snap(t: String) = TableGroup.readTable(spark, group, t).get
    assert(snap("customers_snapshot").select($"id", $"name")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    assert(snap("suppliers_snapshot").select($"id", $"name", $"nationkey")
      .as[(Long, String, Int)].collect().toSet ==
      Set((1L, "s1", 2), (2L, "s2", 2)))

    // replay: the second run sees only NEW records; each table pair
    // advances atomically to txn 2
    GraftCdcLog.append(root, "t", 0, Seq(
      env("u", 1, "a2", 200), supEnv("u", 2, "s2x", 205)))
    pipe()
    assert(TableGroup.currentTxn(group).contains(2L))
    assert(snap("customers_snapshot").select($"id", $"name")
      .as[(Long, String)].collect().toSet == Set((1L, "a2"), (2L, "b")))
    assert(snap("suppliers_snapshot").select($"id", $"name")
      .as[(Long, String)].collect().toSet == Set((1L, "s1"), (2L, "s2x")))
    // history routed too (SCD2 per table)
    assert(TableGroup.readTable(spark, group, "suppliers_history").get
      .filter($"id" === 2L).count() == 2L)

    // mid-stream DDL gain on ONE route (VERDICT r15 item 7): customers
    // gains `phone`; the sibling route is untouched; a full-topic replay
    // of the evolved group converges to the same state
    def evoEnv(id: Long, name: String, ts: Long, phone: String): String = {
      val row = s"""{"id":$id,"name":"$name","nationkey":1,"acctbal":10.0,"mktsegment":"X","phone":"$phone"}"""
      s"""{"schema":null,"payload":{"before":null,"after":$row,"source":{"table":"customers","lsn":$ts},"op":"c","ts_ms":$ts}}"""
    }
    val v2Ddl = graft.cdc.Envelope.rowSchema.toDDL + ", phone STRING"
    GraftCdcLog.append(root, "t", 0, Seq(
      evoEnv(3, "c3", 300, "P3"), supEnv("u", 1, "s1y", 305)))
    pipe(Some(v2Ddl))
    assert(TableGroup.currentTxn(group).contains(3L))
    // the widened read: pre-evolution rows null-fill phone (mixed v1/v2
    // files resolve under the published `_schema` sidecar)
    assert(snap("customers_snapshot")
      .select($"id", $"name", $"phone")
      .as[(Long, String, Option[String])].collect().toSet ==
      Set((1L, "a2", None), (2L, "b", None), (3L, "c3", Some("P3"))))
    assert(graft.streaming.BucketManifest
      .readTableSchema(s"$group/customers_snapshot")
      .exists(_.fieldNames.contains("phone")), "sidecar not widened")
    // the group sibling is untouched by the customers DDL gain
    assert(snap("suppliers_snapshot").select($"id", $"name")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "s1y"), (2L, "s2x")))
    // harshest replay: a FRESH checkpoint reprocesses the whole topic —
    // v1 envelopes decode under the v2 DDL (phone null) and merge
    // against the already-evolved tables; latest-wins converges
    pipe(Some(v2Ddl), ckDir = s"$tmp/ck-replay")
    assert(snap("customers_snapshot")
      .select($"id", $"name", $"phone")
      .as[(Long, String, Option[String])].collect().toSet ==
      Set((1L, "a2", None), (2L, "b", None), (3L, "c3", Some("P3"))))
    assert(snap("suppliers_snapshot").select($"id", $"name")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "s1y"), (2L, "s2x")))

    // an envelope with no source.table cannot be routed — fail, not drop
    val g2 = s"$tmp/group2"
    GraftCdcLog.append(root, "t2", 0, Seq(
      """{"schema":null,"payload":{"before":null,"after":{"id":1},"source":{"lsn":1},"op":"r","ts_ms":1}}"""))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-cdc")
        .options(CdcStream.kafkaOptions(root, "t2"))
        .load()
        .writeStream.format("graft-table")
        .option("path", g2).option("checkpointLocation", s"$tmp/ck2")
        .option("routeBySourceTable", "true")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(e.getCause.getMessage.contains("source.table"))
  }

  testBothLookups("file-level min/max stats: a ts-range read prunes the FILE LIST " +
      "to files whose range reaches the cutoff (untouched buckets' files " +
      "never open), rows match the unpruned read, absence never prunes") {
    val tmp = Files.createTempDirectory("graft-tbl-stats").toString
    val root = s"$tmp/log"; val group = s"$tmp/group"; val ck = s"$tmp/ck"
    // wave 1: keys 1..40 at ts 1000+k — populates (almost surely) all 4
    // buckets; wave 2: two fresh keys at ts 2000+k — touches ≤2 buckets,
    // so the other buckets' live files keep max(_ts_ms) < 2000
    GraftCdcLog.append(root, "t", 0,
      (1L to 40L).map(k => env("r", k, s"n$k", 1000 + k)))
    runPipe(root, "t", group, ck)
    GraftCdcLog.append(root, "t", 0, Seq(
      env("r", 100, "w2a", 2001), env("r", 101, "w2b", 2002)))
    runPipe(root, "t", group, ck)
    // the merge recorded footer stats for its own files (recording rides
    // an async queue off the batch's critical path — drain it before
    // asserting on pruning)
    graft.streaming.BucketManifest.flushFileStats()
    assert(new File(s"$group/snapshot/_file_stats").exists())
    val stats = graft.streaming.BucketManifest
      .readFileStats(s"$group/snapshot")
    assert(stats.nonEmpty && stats.values.forall(_.contains("_ts_ms")))

    def read() = spark.read.format("graft-table").option("path", group).load()
    assert(read().count() == 42L)
    val allFiles = GraftTableReadStats.lastFiles
    assert(allFiles >= 3, s"expected >2 live files, got $allFiles")

    val recent = read().filter($"_ts_ms" >= 2000L)
      .select($"id", $"name").as[(Long, String)].collect().toSet
    assert(recent == Set((100L, "w2a"), (101L, "w2b")))
    val touched = Seq(100L, 101L).map(k =>
      spark.range(1).select(pmod(hash(lit(k)), lit(4)).cast("long"))
        .as[Long].head()).distinct.size
    assert(GraftTableReadStats.lastFiles == touched,
      s"ts-range read should open only the $touched wave-2-touched " +
        s"bucket files, opened ${GraftTableReadStats.lastFiles} of $allFiles")

    // a range BELOW every file's min: zero files, valid empty result
    assert(read().filter($"_ts_ms" < 500L).count() == 0L)
    assert(GraftTableReadStats.lastFiles == 0)

    // stats absence is never a prune: with the sidecar removed the same
    // read opens every file and returns the same rows
    assert(new File(s"$group/snapshot/_file_stats").delete())
    val recent2 = read().filter($"_ts_ms" >= 2000L)
      .select($"id", $"name").as[(Long, String)].collect().toSet
    assert(recent2 == recent)
    assert(GraftTableReadStats.lastFiles == allFiles)
  }

  testBothLookups("string file stats: a name-range read prunes the file list like " +
      "the ts-range one; StartsWith prunes; a range above every bound " +
      "reads zero files") {
    val tmp = Files.createTempDirectory("graft-tbl-strstats").toString
    val root = s"$tmp/log"; val group = s"$tmp/group"; val ck = s"$tmp/ck"
    // wave 1: names a<k> (populates all 4 buckets); wave 2: two z-names —
    // only the touched buckets' rewritten files get a max name ≥ "z"
    GraftCdcLog.append(root, "t", 0,
      (1L to 40L).map(k => env("r", k, f"a$k%03d", 1000 + k)))
    runPipe(root, "t", group, ck)
    GraftCdcLog.append(root, "t", 0, Seq(
      env("r", 100, "z100", 2001), env("r", 101, "z101", 2002)))
    runPipe(root, "t", group, ck)
    graft.streaming.BucketManifest.flushFileStats()
    val stats = graft.streaming.BucketManifest
      .readFileStats(s"$group/snapshot")
    assert(stats.nonEmpty && stats.values.forall(
      _.get("name").exists(_.isInstanceOf[graft.streaming.ColStats.Strs])))

    def read() = spark.read.format("graft-table").option("path", group).load()
    assert(read().count() == 42L)
    val allFiles = GraftTableReadStats.lastFiles
    assert(allFiles >= 3, s"expected >2 live files, got $allFiles")
    val touched = Seq(100L, 101L).map(k =>
      spark.range(1).select(pmod(hash(lit(k)), lit(4)).cast("long"))
        .as[Long].head()).distinct.size

    val zs = read().filter($"name" >= "z")
      .select($"id", $"name").as[(Long, String)].collect().toSet
    assert(zs == Set((100L, "z100"), (101L, "z101")))
    assert(GraftTableReadStats.lastFiles == touched,
      s"name-range read should open only the $touched wave-2-touched " +
        s"bucket files, opened ${GraftTableReadStats.lastFiles} of $allFiles")

    // prefix match prunes through the same bounds
    val zp = read().filter($"name".startsWith("z"))
      .select($"id").as[Long].collect().toSet
    assert(zp == Set(100L, 101L))
    assert(GraftTableReadStats.lastFiles == touched)

    // a range above every file's max: zero files, valid empty result
    assert(read().filter($"name" >= "zz").count() == 0L)
    assert(GraftTableReadStats.lastFiles == 0)
  }

  test("fileCanMatch representation guards: a fractional literal NEVER " +
      "prunes long stats (the truncated-longValue trap); dates match " +
      "Date/LocalDate; string bounds prune conservatively") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan, StringStartsWith}
    import graft.streaming.ColStats
    val longStats = Map[String, graft.streaming.ColStats](
      "v" -> ColStats.Longs(12000L, 13000L))
    def can(f: org.apache.spark.sql.sources.Filter) =
      GraftTablePushdown.fileCanMatch(f, longStats)
    // the r15 ADVICE bug: BigDecimal("123.45").longValue == 123 < 12000
    // would wrongly prune a file that CAN hold matching rows under the
    // decimal's true (scaled) semantics — the guard must keep it
    assert(can(EqualTo("v", new java.math.BigDecimal("123.45"))))
    assert(can(GreaterThan("v", java.lang.Double.valueOf(99999.9))))
    // integral literals still prune exactly
    assert(can(EqualTo("v", java.lang.Long.valueOf(12345L))))
    assert(!can(EqualTo("v", java.lang.Long.valueOf(999L))))
    assert(!can(GreaterThan("v", java.lang.Long.valueOf(13000L))))

    val dateStats = Map[String, graft.streaming.ColStats]("d" ->
      ColStats.Dates(java.time.LocalDate.of(2026, 1, 1).toEpochDay,
        java.time.LocalDate.of(2026, 6, 30).toEpochDay))
    assert(GraftTablePushdown.fileCanMatch(
      EqualTo("d", java.sql.Date.valueOf("2026-03-15")), dateStats))
    assert(!GraftTablePushdown.fileCanMatch(
      EqualTo("d", java.sql.Date.valueOf("2025-03-15")), dateStats))
    assert(!GraftTablePushdown.fileCanMatch(
      GreaterThan("d", java.time.LocalDate.of(2026, 6, 30)), dateStats))
    // an integral literal against DATE stats is a representation
    // mismatch — never prune
    assert(GraftTablePushdown.fileCanMatch(
      EqualTo("d", java.lang.Long.valueOf(0L)), dateStats))

    val strStats = Map[String, graft.streaming.ColStats](
      "s" -> ColStats.Strs("alpha", "mike"))
    def canS(f: org.apache.spark.sql.sources.Filter) =
      GraftTablePushdown.fileCanMatch(f, strStats)
    assert(canS(EqualTo("s", "golf")))
    assert(!canS(EqualTo("s", "zulu")))
    assert(!canS(LessThan("s", "alpha")))
    assert(canS(StringStartsWith("s", "mi")))
    assert(!canS(StringStartsWith("s", "z")))
    // min > prefix but CARRIES it: strings with that prefix can exist
    assert(GraftTablePushdown.fileCanMatch(StringStartsWith("s", "al"),
      strStats))
  }

  test("pushdown residues equal Spark's own pmod(hash(key), n); unmarked " +
      "or foreign-scheme layouts are never pruned; Or/And compose") {
    import org.apache.spark.sql.sources.{And, EqualTo, In, IsNotNull, Or}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.streaming.BucketScheme
    val tmp = Files.createTempDirectory("graft-push-unit").toString
    val n = 16
    BucketScheme.ensure(s"$tmp/snapshot", BucketScheme.Murmur3Pmod, n)
    val schema = StructType(Seq(StructField("id", LongType)))
    // the residues of `fs` over the table dir `<group>/snapshot`, after
    // the read's bucketKey check
    def residues(opts: CaseInsensitiveStringMap,
        fs: org.apache.spark.sql.sources.Filter*) = {
      GraftTablePushdown.checkBucketKey(opts)
      GraftTablePushdown.bucketsAt(BucketScheme.readScheme(
        GraftTableRead.tableDir(opts)), schema, fs)
    }
    val opts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", tmp))
    def bk(fs: org.apache.spark.sql.sources.Filter*) = residues(opts, fs: _*)

    // the driver-side residue must equal what the MERGE computed
    val expected: Map[Long, Long] = spark.range(1, 50)
      .select($"id", pmod(hash($"id"), lit(n)).cast("long").as("b"))
      .as[(Long, Long)].collect().toMap
    (1L to 49L).foreach { k =>
      assert(bk(EqualTo("id", k)) == Some(Seq(expected(k))), s"key $k")
    }
    // composition: IN unions, Or unions, And intersects, IsNotNull is
    // unconstrained (and must not defeat the constrained conjunct)
    assert(bk(In("id", Array(1L, 2L, 3L))) ==
      Some(Seq(1L, 2L, 3L).map(expected).distinct.sorted))
    assert(bk(Or(EqualTo("id", 1L), EqualTo("id", 2L))) ==
      Some(Seq(1L, 2L).map(expected).distinct.sorted))
    assert(bk(IsNotNull("id"), EqualTo("id", 5L)) ==
      Some(Seq(expected(5L))))
    assert(bk(And(IsNotNull("id"), EqualTo("id", 5L))) ==
      Some(Seq(expected(5L))))
    assert(bk(IsNotNull("id")) == None)
    // contradictory equalities intersect to zero buckets (when the two
    // keys live in different buckets)
    val (ka, kb) = (1L to 49L).flatMap(a => (1L to 49L).collect {
      case b if expected(a) != expected(b) => (a, b) }).head
    assert(bk(EqualTo("id", ka), EqualTo("id", kb)) == Some(Seq.empty))

    // unmarked table dir: no pruning, never a guess
    val bare = Files.createTempDirectory("graft-push-bare").toString
    val bareOpts = new CaseInsensitiveStringMap(java.util.Map.of("path", bare))
    assert(residues(bareOpts, EqualTo("id", 1L)) == None)
    // foreign scheme id: refuse likewise
    val alien = Files.createTempDirectory("graft-push-alien").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$alien/snapshot"))
    Files.write(java.nio.file.Paths.get(s"$alien/snapshot/_bucket_scheme"),
      "xxhash64-pmod/16\n".getBytes("UTF-8"))
    val alienOpts =
      new CaseInsensitiveStringMap(java.util.Map.of("path", alien))
    assert(residues(alienOpts, EqualTo("id", 1L)) == None)

    // the bucketing key comes from the MARKER, never the reader's option:
    // a matching option is redundant-but-fine; a conflicting one refuses
    // (computing residues from the wrong column would silently drop
    // matching files); a legacy two-field marker exposes no key → no
    // key-derived pruning even with an option present
    val okOpts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", tmp, "bucketKey", "id"))
    assert(residues(okOpts, EqualTo("id", 5L)) == Some(Seq(expected(5L))))
    val badOpts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", tmp, "bucketKey", "uid"))
    val e = intercept[IllegalArgumentException] {
      residues(badOpts, EqualTo("uid", 5L))
    }
    assert(e.getMessage.contains("stamped"))
    val legacy = Files.createTempDirectory("graft-push-legacy").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$legacy/snapshot"))
    Files.write(java.nio.file.Paths.get(s"$legacy/snapshot/_bucket_scheme"),
      s"${BucketScheme.Murmur3Pmod}/16\n".getBytes("UTF-8"))
    val legacyOpts = new CaseInsensitiveStringMap(
      java.util.Map.of("path", legacy, "bucketKey", "id"))
    assert(residues(legacyOpts, EqualTo("id", 1L)) == None)
    // ...but a direct bucket-column predicate still prunes on legacy
    // layouts: its residues are directory values, not hash-derived
    assert(residues(legacyOpts, EqualTo("bucket", java.lang.Long.valueOf(3L)))
      == Some(Seq(3L)))
  }
}
