package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.cdc.Envelope
import graft.streaming.{CdcStream, DualSink, TableGroup}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The driver-local keyed lookup ([[GraftLookupStrategy]] →
  * [[GraftLookupExec]]): a key-pinned read of a small replica slice runs
  * no Spark job and returns exactly the rows of the same query planned as
  * the distributed scan (the strategy's seam at 0) — through the catalog
  * SQL and through the other manifest-resolved relations
  * (`readSnapshotBucketed`, `DualSink.readHistory`, `readTableAt`). */
class GraftLookupSpec extends SparkSpec {
  import spark.implicits._

  private val N = 8
  private val Wide = StructType(Envelope.rowSchema.fields :+
    StructField("phone", StringType))

  private def env(op: String, id: Long, name: String, ts: Long,
      phone: Option[String] = None): String = {
    val ph = phone.map(p => s""","phone":"$p"""").getOrElse("")
    val row = s"""{"id":$id,"name":"$name","nationkey":1,"acctbal":10.0,"mktsegment":"X"$ph}"""
    val before = if (op == "d") row else "null"
    val after = if (op == "d") "null" else row
    s"""{"schema":null,"payload":{"before":$before,"after":$after,"source":{"table":"customers","lsn":$ts},"op":"$op","ts_ms":$ts}}"""
  }

  private val bucketOf: Map[Long, Long] = spark.range(1, 400)
    .select($"id", pmod(hash($"id"), lit(N)).cast("long").as("b"))
    .as[(Long, Long)].collect().toMap
  // bucket 7 stays empty: a key hashed there has no file to read
  private val keys = (1L to 399L).filter(bucketOf(_) != 7L).take(40)
  private val emptyBucketKey = (1L to 399L).find(bucketOf(_) == 7L).get
  private val absentKey = (1L to 399L).find(k =>
    bucketOf(k) == bucketOf(keys.head) && !keys.contains(k)).get
  private val (upd, del) = (keys(0), keys(1))
  private val (wideKey, oldKey) = {
    val w = (1L to 399L).find(k => bucketOf(k) != 7L && !keys.contains(k)).get
    (w, keys.find(k => bucketOf(k) != bucketOf(w) && k != upd && k != del).get)
  }
  private val (inA, inB) =
    (keys(2), keys.drop(3).find(bucketOf(_) != bucketOf(keys(2))).get)

  /** One group (txn 1: keys; 2: an update and a delete; 3: a widened
    * insert) and one bucketed snapshot fed the same batches. */
  private lazy val (group, snap) = {
    val tmp = Files.createTempDirectory("graft-lookup").toString
    val batches = Seq(
      keys.map(k => env("r", k, s"n$k", 100 + k)) -> Envelope.rowSchema,
      Seq(env("u", upd, s"n${upd}b", 500), env("d", del, s"n$del", 510)) ->
        Envelope.rowSchema,
      Seq(env("c", wideKey, s"n$wideKey", 600, Some("555"))) -> Wide)
    batches.zipWithIndex.foreach { case ((evs, row), i) =>
      val decoded = Envelope.decode(evs.toDF("value"), row = row)
      DualSink.applyBatch(decoded, s"$tmp/group", N, retainTxns = 5)
      CdcStream.upsertBatchBucketed(spark, s"$tmp/snap", N)(decoded, i.toLong)
    }
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    (s"$tmp/group", s"$tmp/snap")
  }

  private val Tag = "graft.lookup.spec"

  /** Rows of `q` and the Spark jobs collecting it ran (planning included);
    * a marker job drains the listener bus before counting. */
  private def run(q: => DataFrame): (Seq[Row], Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
          .foreach(seen.add)
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(Tag, id)
      val rows = try q.collect().toSeq finally sc.setLocalProperty(Tag, null)
      sc.setLocalProperty(Tag, s"$id-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Tag, null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(s"$id-marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      assert(seen.contains(s"$id-marker"), "listener bus did not drain")
      (rows, seen.asScala.count(_ == id))
    } finally sc.removeSparkListener(l)
  }

  private def lookupExecs(df: DataFrame): Seq[GraftLookupExec] =
    df.queryExecution.executedPlan.collect { case e: GraftLookupExec => e }

  private def sorted(rows: Seq[Row]) = rows.map(_.toString).sorted

  /** `q` runs as a driver-local lookup with 0 jobs, and returns the rows
    * the distributed plan of the same query returns. */
  private def local(q: => DataFrame): Seq[Row] = {
    val df = q
    assert(lookupExecs(df).size == 1, df.queryExecution.executedPlan.toString)
    assert(df.queryExecution.executedPlan.output.map(a =>
      (a.exprId, a.nullable, a.dataType)) ==
      df.queryExecution.optimizedPlan.output.map(a =>
        (a.exprId, a.nullable, a.dataType)))
    val (rows, jobs) = run(q)
    assert(jobs == 0, s"lookup ran $jobs Spark jobs")
    GraftLookupStrategy.rowMax = 0L
    val dist = try {
      val d = q
      assert(lookupExecs(d).isEmpty)
      d.collect().toSeq
    } finally GraftLookupStrategy.rowMax = GraftLookupStrategy.LookupRowMax
    assert(sorted(rows) == sorted(dist))
    rows
  }

  private val Cols = "id, name"
  // the same SQL over the catalog (its table planned as the manifest
  // relation) and over readSnapshotBucketed's manifest relation (a temp
  // view, re-resolved)
  private def viaCatalog(where: String, cols: String = Cols,
      version: String = ""): DataFrame =
    spark.sql(s"SELECT $cols FROM graft.`$group`.snapshot $version WHERE $where")
  private def viaManifest(where: String, cols: String = Cols): DataFrame = {
    CdcStream.readSnapshotBucketed(spark, snap).get
      .createOrReplaceTempView("lookup_replica")
    spark.sql(s"SELECT $cols FROM lookup_replica WHERE $where")
  }
  private def bothShapes(where: String, cols: String = Cols): Seq[Row] = {
    val a = local(viaCatalog(where, cols))
    val b = local(viaManifest(where, cols))
    assert(sorted(a) == sorted(b))
    a
  }

  test("present, absent, empty-bucket and deleted keys: 0 jobs, rows of " +
      "the distributed plan, through the catalog and readSnapshotBucketed") {
    val k = keys(5)
    assert(bothShapes(s"id = $k") == Seq(Row(k, s"n$k")))
    assert(bothShapes(s"id = $upd") == Seq(Row(upd, s"n${upd}b")))
    assert(bothShapes(s"id = $absentKey").isEmpty)
    assert(bothShapes(s"id = $emptyBucketKey").isEmpty)
    assert(GraftTableReadStats.lastFiles == 0)
    assert(bothShapes(s"id = $del").isEmpty)
  }

  test("IN across buckets with a null element, <=> null, key + non-key " +
      "predicate") {
    assert(sorted(bothShapes(s"id IN ($inA, $inB, NULL)")) ==
      sorted(Seq(Row(inA, s"n$inA"), Row(inB, s"n$inB"))))
    assert(GraftTableReadStats.lastBuckets == 2)
    assert(bothShapes("id <=> NULL").isEmpty)
    assert(bothShapes(s"id = $inA AND name = 'n$inA'") == Seq(Row(inA, s"n$inA")))
    assert(bothShapes(s"id = $inA AND name = 'other'").isEmpty)
  }

  test("a multi-version history key, a widened table's null-filled old " +
      "rows, and VERSION AS OF after later commits") {
    val hist = "id, name, valid_from, valid_to, is_current"
    val versions = local(spark.sql(
      s"SELECT $hist FROM graft.`$group`.history WHERE id = $upd"))
    assert(versions.size == 2)
    assert(sorted(local(DualSink.readHistory(spark, group).get
      .filter($"id" === upd).selectExpr(hist.split(", ").toIndexedSeq: _*))) ==
      sorted(versions))
    // the old key's file predates the widening: phone reads null
    assert(bothShapes(s"id = $oldKey", "id, phone") == Seq(Row(oldKey, null)))
    assert(bothShapes(s"id = $wideKey", "id, phone") == Seq(Row(wideKey, "555")))
    // version 1 of the group: the update and the widening came later
    assert(local(viaCatalog(s"id = $upd", version = "VERSION AS OF 1")) ==
      Seq(Row(upd, s"n$upd")))
    assert(local(TableGroup.readTableAt(spark, group, DualSink.SnapshotTable,
      1L).get.filter($"id" === upd).select($"id", $"name")) ==
      Seq(Row(upd, s"n$upd")))
  }

  test("an over-budget selection falls back to the distributed scan") {
    GraftLookupStrategy.rowMax = 1L
    try {
      Seq(viaCatalog(s"id = ${keys(5)}"), viaManifest(s"id = ${keys(5)}"))
        .foreach(df => assert(lookupExecs(df).isEmpty))
      val (rows, jobs) = run(viaManifest(s"id = ${keys(5)}"))
      assert(rows == Seq(Row(keys(5), s"n${keys(5)}")))
      assert(jobs >= 1)
    } finally GraftLookupStrategy.rowMax = GraftLookupStrategy.LookupRowMax
  }

  test("a keyed read through readSnapshotBucketed opens 1 of nBuckets " +
      "files on the distributed path too (the manifest file index prunes)") {
    val dir = Files.createTempDirectory("graft-lookup-prune").toString
    CdcStream.upsertBatchBucketed(spark, dir, N)(Envelope.decode(
      (1L to 60L).map(k => env("r", k, s"n$k", k)).toDF("value")), 0L)
    GraftLookupStrategy.rowMax = 0L
    try {
      val all = CdcStream.readSnapshotBucketed(spark, dir).get
      assert(all.count() == 60L)
      assert(GraftTableReadStats.lastFiles == N)
      val one = CdcStream.readSnapshotBucketed(spark, dir).get
        .filter($"id" === 17L).select($"name")
      assert(lookupExecs(one).isEmpty)
      assert(one.as[String].collect().toSeq == Seq("n17"))
      assert(GraftTableReadStats.lastFiles == 1 &&
        GraftTableReadStats.lastTotalBuckets == N)
    } finally GraftLookupStrategy.rowMax = GraftLookupStrategy.LookupRowMax
  }
}
