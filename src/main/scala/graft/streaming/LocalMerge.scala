package graft.streaming

import java.io.File
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  GenericInternalRow, InterpretedOrdering, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import scala.collection.mutable

/** The driver-local twin of [[BucketedMerge.Batch.stage]]'s distributed
  * merge, for merges under [[BucketedMerge.LocalMergeMax]]: no exchange,
  * no window, no write job. Per touched bucket it folds the collected
  * batch with the bucket's live rows (read by Spark's own parquet reader
  * under the table's published schema, [[DriverParquet]]) by the
  * distributed plan's rule, and writes ONE file, rows sorted by key,
  * through Spark's own parquet writer (`ParquetFileFormat.prepareWrite` —
  * the session's codec, the same `ParquetWriteSupport` types and footer
  * metadata).
  *
  * The output schema is the distributed merge frame's analyzed schema,
  * so widening, column order and nullability cannot drift; every column
  * is mapped by name. A shape the twin does not fold exactly as the plan
  * would — a type the union would coerce, a case-only name match, a
  * non-long `ts_ms`/`lsn` — is declined ([[plan]] = None) and the
  * distributed path runs. Pinned ≡ the distributed path per bucket (row
  * set, one file, file stats) by `LocalMergeTwinSpec`. */
private[streaming] object LocalMerge {
  import BucketedMerge.{Batch, Kind, Latest, Scd2}

  /** Fold the batch into the slice (bucket → live file paths) and write
    * the result under the given stage directory. */
  type Fold = (Map[Long, Seq[String]], File) => Unit

  // ordinals of Batch.local's rows
  private val Key = 0
  private val After = 1
  private val Op = 2
  private val Ts = 3
  private val Lsn = 4
  private val Bkt = 5

  /** The twin for one table, or None when it cannot fold exactly what the
    * distributed plan would. `tbl` is the table's data schema (None: no
    * live file in the touched buckets), `out` the distributed merge
    * frame's schema. */
  def plan(b: Batch, kind: Kind, tbl: Option[StructType],
      out: StructType): Option[Fold] = {
    val ls = b.localSchema
    val keyType = ls(Key).dataType
    val afterT = ls(After).dataType.asInstanceOf[StructType]
    val write = StructType(out.filterNot(_.name == "bucket"))
    val t = tbl.getOrElse(StructType(Nil))
    def at(s: StructType, name: String, dt: DataType): Option[Int] =
      slot(s, name).filter(i => i >= 0 && DataTypeUtils.sameType(s(i).dataType, dt))
    // existing-row ordinals; any index when there are no existing rows
    def tblAt(name: String, dt: DataType): Option[Int] =
      if (tbl.isEmpty) Some(-1) else at(t, name, dt)
    if (ls(Ts).dataType != LongType || ls(Lsn).dataType != LongType) return None
    kind match {
      case Latest =>
        val bSrc = StructType(afterT.fields ++ Seq(
          StructField("_ts_ms", LongType), StructField("_lsn", LongType)))
        for {
          bSlots <- slots(bSrc, write)
          eSlots <- slots(t, write)
          keyOut <- at(write, "id", keyType)
          eKey <- tblAt("id", keyType)
          eTs <- tblAt("_ts_ms", LongType)
          eLsn <- tblAt("_lsn", LongType)
        } yield fold(b, t, write, Seq(keyOut)) { (batch, old) =>
          latest(batch, old, afterT, keyType, write, bSlots, eSlots, eKey,
            eTs, eLsn)
        }
      case Scd2 =>
        val bSrc = StructType(afterT.fields ++ Seq(
          StructField("valid_from", LongType), StructField("valid_to", LongType),
          StructField("is_current", BooleanType)))
        // the closed form of an existing row overrides its two columns
        val eSrc = StructType(t.fields ++ Seq(
          StructField("valid_to", LongType), StructField("is_current", BooleanType)))
        for {
          bSlots <- slots(bSrc, write)
          eSlots <- slots(eSrc, write)
          keyOut <- at(write, "id", keyType)
          fromOut <- at(write, "valid_from", LongType)
          eKey <- tblAt("id", keyType)
          eFrom <- tblAt("valid_from", LongType)
          eTo <- tblAt("valid_to", LongType)
          eCur <- tblAt("is_current", BooleanType)
        } yield fold(b, t, write, Seq(keyOut, fromOut)) { (batch, old) =>
          scd2(batch, old, afterT, keyType, write, bSlots, eSlots, eKey,
            eFrom, eTo, eCur)
        }
    }
  }

  /** Index of `name` in `s` (the LAST match — later fields override),
    * -1 when absent; None when only a case-insensitive match exists (the
    * analyzer may resolve it, a by-name copy would null it). */
  private def slot(s: StructType, name: String): Option[Int] = {
    val i = s.fieldNames.lastIndexOf(name)
    if (i >= 0 || !s.fieldNames.exists(_.equalsIgnoreCase(name))) Some(i)
    else None
  }

  /** Per output column, its source ordinal (-1 = null-filled), or None
    * when a shared column's type differs (the union would coerce it). */
  private def slots(src: StructType, dst: StructType): Option[Array[Int]] = {
    val s = dst.fields.map(f => slot(src, f.name))
    if (s.exists(_.isEmpty)) None
    else {
      val idx = s.map(_.get)
      if (idx.indices.forall(j => idx(j) < 0 ||
          DataTypeUtils.sameType(src(idx(j)).dataType, dst(j).dataType))) Some(idx)
      else None
    }
  }

  private def project(row: InternalRow, idx: Array[Int],
      dst: StructType): InternalRow =
    new GenericInternalRow(Array.tabulate[Any](idx.length) { j =>
      val i = idx(j)
      if (i < 0 || row.isNullAt(i)) null else row.get(i, dst(j).dataType)
    })

  private def boxedLong(r: InternalRow, i: Int): java.lang.Long =
    if (r.isNullAt(i)) null else java.lang.Long.valueOf(r.getLong(i))

  private def afterOf(r: InternalRow, afterT: StructType): InternalRow =
    if (r.isNullAt(After)) new GenericInternalRow(afterT.length)
    else r.getStruct(After, afterT.length)

  private def keyOf(r: InternalRow, i: Int, keyType: DataType): Any =
    if (r.isNullAt(i)) null else r.get(i, keyType)

  private def keep(r: InternalRow): Boolean =
    !r.isNullAt(Op) && r.getUTF8String(Op).toString != "d"

  /** The common driver: per touched bucket, fold its batch rows with its
    * live rows and write the result sorted by `sortBy` (output ordinals). */
  private def fold(b: Batch, tbl: StructType, write: StructType,
      sortBy: Seq[Int])(
      f: (Seq[InternalRow], Seq[InternalRow]) => Seq[InternalRow]): Fold = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val sort = sortBy.map(i =>
      SortOrder(BoundReference(i, write(i).dataType, nullable = true), Ascending))
    (files, stage) => {
      val spark = b.norm.sparkSession
      lazy val read = DriverParquet.reader(spark, tbl, tbl)
      val byBucket = b.local.toSeq.groupBy(_.getLong(Bkt))
      lazy val out = new Writer(spark, write)
      // buckets fold and write independently, one driver thread each; all
      // settle before a failure propagates, so no writer is still busy in
      // the stage directory when a retry starts
      val settled = Await.result(Future.traverse(b.changed) { bk =>
        Future {
          val rows = f(byBucket.getOrElse(bk, Nil),
            files.getOrElse(bk, Nil).flatMap(read(_, InternalRow.empty).map(_.copy())))
          if (rows.nonEmpty) out.write(new File(stage, s"bucket=$bk"),
            rows.sorted(new InterpretedOrdering(sort)))
        }.transform(scala.util.Success(_))
      }, Duration.Inf)
      settled.foreach(_.get)
    }
  }

  /** Latest-(ts_ms, lsn)-wins over batch ∪ slice, in the plan's union
    * order (batch first) and window order (ts_ms desc, lsn desc, nulls
    * last; the first row wins a full tie); a delete winner drops the key. */
  private def latest(batch: Seq[InternalRow], old: Seq[InternalRow],
      afterT: StructType, keyType: DataType, write: StructType,
      bSlots: Array[Int], eSlots: Array[Int], eKey: Int, eTs: Int,
      eLsn: Int): Seq[InternalRow] = {
    final case class Cand(src: InternalRow, slots: Array[Int], live: Boolean,
        ts: java.lang.Long, lsn: java.lang.Long)
    // < 0 when a sorts before b under `desc nulls last`
    def desc(a: java.lang.Long, b: java.lang.Long): Int =
      if (a == null) { if (b == null) 0 else 1 }
      else if (b == null) -1
      else java.lang.Long.compare(b, a)
    val best = new java.util.LinkedHashMap[Any, Cand]()
    def offer(key: Any, c: Cand): Unit = {
      val cur = best.get(key)
      if (cur == null) best.put(key, c)
      else {
        val byTs = desc(c.ts, cur.ts)
        if (byTs < 0 || (byTs == 0 && desc(c.lsn, cur.lsn) < 0)) best.put(key, c)
      }
    }
    batch.foreach { r =>
      val ts = boxedLong(r, Ts)
      val lsn = boxedLong(r, Lsn)
      offer(keyOf(r, Key, keyType),
        Cand(new JoinedRow(afterOf(r, afterT), InternalRow(ts, lsn)), bSlots,
          keep(r), ts, lsn))
    }
    old.foreach { r =>
      offer(keyOf(r, eKey, keyType),
        Cand(r, eSlots, live = true, boxedLong(r, eTs), boxedLong(r, eLsn)))
    }
    import scala.jdk.CollectionConverters._
    best.values.asScala.iterator.filter(_.live)
      .map(c => project(c.src, c.slots, write)).toSeq
  }

  /** SCD2 close-and-append over batch ∪ slice, as the plan does it: the
    * batch chains into versions per key (ts_ms, lsn ascending, nulls
    * first; `valid_to` = the next event's ts_ms; deletes open nothing); an
    * existing open version closes at its key's earliest batch ts_ms only
    * when that is strictly later than its `valid_from` (SQL three-valued
    * logic throughout); then (id, valid_from) dedups, existing rows first
    * in the plan's union order. */
  private def scd2(batch: Seq[InternalRow], old: Seq[InternalRow],
      afterT: StructType, keyType: DataType, write: StructType,
      bSlots: Array[Int], eSlots: Array[Int], eKey: Int, eFrom: Int,
      eTo: Int, eCur: Int): Seq[InternalRow] = {
    type B = java.lang.Boolean
    def and3(xs: B*): B =
      if (xs.exists(x => x != null && !x)) false
      else if (xs.contains(null)) null
      else true
    val versions = new java.util.LinkedHashMap[Any, mutable.ArrayBuffer[InternalRow]]()
    batch.foreach(r => versions.computeIfAbsent(keyOf(r, Key, keyType),
      _ => mutable.ArrayBuffer.empty[InternalRow]) += r)
    // min non-null ts_ms per key (the join never matches a null key)
    val closeTs = new java.util.HashMap[Any, java.lang.Long]()
    versions.forEach { (k, rs) =>
      val ts = rs.iterator.map(boxedLong(_, Ts)).filter(_ != null).toSeq
      if (k != null && ts.nonEmpty) closeTs.put(k, ts.map(_.longValue).min)
    }
    val seen = mutable.HashSet.empty[(Any, java.lang.Long)]
    val out = mutable.ArrayBuffer.empty[InternalRow]
    def emit(key: Any, from: java.lang.Long, row: => InternalRow): Unit =
      if (seen.add((key, from))) out += row
    old.foreach { r =>
      val key = keyOf(r, eKey, keyType)
      val from = boxedLong(r, eFrom)
      val cur: B = if (r.isNullAt(eCur)) null else r.getBoolean(eCur)
      val close = if (key == null) null else closeTs.get(key)
      val closes = and3(cur, close != null,
        if (close == null || from == null) null else close > from)
      val to = if (closes == java.lang.Boolean.TRUE) close else boxedLong(r, eTo)
      val stillCur = and3(cur, if (closes == null) null else !closes)
      emit(key, from, project(new JoinedRow(r, InternalRow(to, stillCur)),
        eSlots, write))
    }
    // asc nulls first, on (ts_ms, lsn)
    def asc(a: java.lang.Long, b: java.lang.Long): Int =
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else java.lang.Long.compare(a, b)
    versions.forEach { (key, rs) =>
      val chain = rs.sortWith { (x, y) =>
        val c = asc(boxedLong(x, Ts), boxedLong(y, Ts))
        c < 0 || (c == 0 && asc(boxedLong(x, Lsn), boxedLong(y, Lsn)) < 0)
      }
      chain.indices.foreach { i =>
        val r = chain(i)
        if (keep(r)) {
          val from = boxedLong(r, Ts)
          val to = if (i + 1 < chain.length) boxedLong(chain(i + 1), Ts) else null
          emit(key, from, project(new JoinedRow(afterOf(r, afterT),
            InternalRow(from, to, to == null)), bSlots, write))
        }
      }
    }
    out.toSeq
  }

  /** `dt` with every level nullable, as a Spark write job stores its
    * output schema. */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Spark's parquet writer, on the driver: one file per call, named like
    * a write job's part file (unique per attempt). */
  private final class Writer(spark: SparkSession, data: StructType) {
    private val schema = nullable(data).asInstanceOf[StructType]
    private val job = Job.getInstance(spark.sessionState.newHadoopConf())
    private val factory =
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    private val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    private val name = s"part-00000-${java.util.UUID.randomUUID()}.c000" +
      factory.getFileExtension(ctx)

    def write(dir: File, rows: Seq[InternalRow]): Unit = {
      val w = factory.newInstance(new File(dir, name).toString, schema, ctx)
      try rows.foreach(w.write) finally w.close()
    }
  }
}
