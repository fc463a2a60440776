package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.io.File
import java.nio.file.Files

/** Incremental IVF index maintenance: micro-batches touch only their own
  * cells, untouched cell files stay byte-stable, a replayed batch does not
  * duplicate, and the pruned serving read picks up new vectors. */
class VectorIndexStreamSpec extends SparkSpec {
  import spark.implicits._

  // 4 fixed 2-d centroids at the corners; vectors near a corner land there
  private def cents = Seq(
    (0L, Seq(0L, 0L)), (1L, Seq(1000L, 0L)),
    (2L, Seq(0L, 1000L)), (3L, Seq(1000L, 1000L)))
    .toDF("cid", "cv")

  private def vec(id: Long, x: Long, y: Long) = (id, Seq(x, y))

  private def listFiles(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new File(dir))
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.lastModified()).toMap
  }

  test("ingest touches only its cells; replay idempotent; serve sees new vectors") {
    implicit val sc = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-vecidx").toString
    val es = MemoryStream[(Long, Seq[Long])]
    val vecs = es.toDF().toDF("id", "qv")
    val q = VectorIndexStream.run(
      vecs, cents, s"$tmp/idx", s"$tmp/ck", Trigger.ProcessingTime(0))
    try {
      // batch 0: vectors near cells 0 and 1
      es.addData(vec(100L, 10L, 10L), vec(101L, 990L, 5L))
      q.processAllAvailable()
      val afterB0 = listFiles(s"$tmp/idx")
      assert(afterB0.keys.exists(_.contains("cell=0")))
      assert(afterB0.keys.exists(_.contains("cell=1")))
      assert(!afterB0.keys.exists(_.contains("cell=2")))

      // batch 1: vector near cell 2 — batch 0's files must be untouched
      es.addData(vec(102L, 5L, 980L))
      q.processAllAvailable()
      val afterB1 = listFiles(s"$tmp/idx")
      afterB0.foreach { case (path, mtime) =>
        assert(afterB1.get(path).contains(mtime), s"batch-0 file rewritten: $path")
      }
      assert(afterB1.keys.exists(f => f.contains("batch=1") && f.contains("cell=2")))

      val idx = VectorIndexStream.readIndex(spark, s"$tmp/idx")
      assert(idx.count() == 3)
      assert(idx.select($"vec_id", $"cell").as[(Long, Long)].collect().toMap ==
        Map(100L -> 0L, 101L -> 1L, 102L -> 2L))

      // replay batch 1 (at-least-once): same rows, no duplicates
      VectorIndexStream.applyBatch(
        Seq(vec(102L, 5L, 980L)).toDF("id", "qv"), cents, s"$tmp/idx", 1L)
      assert(VectorIndexStream.readIndex(spark, s"$tmp/idx").count() == 3)

      // a cell-pruned serve over the maintained index reads ONLY that
      // cell's files and sees the batch-1 vector
      val pruned = VectorIndexStream.readIndex(spark, s"$tmp/idx")
        .filter($"cell" === 2L)
      val files = pruned.select(input_file_name()).distinct().as[String].collect()
      assert(files.nonEmpty && files.forall(_.contains("cell=2")), files.mkString)
      assert(pruned.select($"vec_id").as[Long].collect().toSeq == Seq(102L))

      // crash contract: a file left by a crashed attempt (write finished,
      // checkpoint commit didn't) lives under the batch's own partitions;
      // the replay REWRITES those partitions (same batch data ⇒ same
      // assigned cells, deterministically), so dynamic overwrite removes
      // the orphan and the reader never double-counts
      val orphanDir = new File(s"$tmp/idx/batch=1/cell=2")
      val crashed = new File(orphanDir, "part-crashed-attempt.parquet")
      // a real crashed attempt leaves a parquet twin; content-identical is
      // the worst case for double-counting, so copy the live file
      val live = Option(orphanDir.listFiles()).toSeq.flatten
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(live.toPath, crashed.toPath)
      assert(VectorIndexStream.readIndex(spark, s"$tmp/idx")
        .filter($"cell" === 2L).count() == 2L) // reader sees the dup...
      VectorIndexStream.applyBatch( // ...until the at-least-once replay
        Seq(vec(102L, 5L, 980L)).toDF("id", "qv"), cents, s"$tmp/idx", 1L)
      assert(!crashed.exists(), "replay must remove the crashed attempt's file")
      assert(VectorIndexStream.readIndex(spark, s"$tmp/idx")
        .filter($"cell" === 2L).count() == 1L)

      // compaction folds the batch generations into one file per cell at a
      // new root, with identical contents
      VectorIndexStream.compactTo(spark, s"$tmp/idx", s"$tmp/idx2")
      val compacted = VectorIndexStream.readIndex(spark, s"$tmp/idx2")
      assert(compacted.select($"vec_id", $"cell").as[(Long, Long)]
        .collect().toMap == Map(100L -> 0L, 101L -> 1L, 102L -> 2L))
      val perCellFiles = compacted
        .select($"cell", input_file_name().as("f")).distinct()
        .groupBy($"cell").agg(count(lit(1)).as("nf"))
        .as[(Long, Long)].collect().toMap
      assert(perCellFiles.values.forall(_ == 1L), perCellFiles.toString)
      assert(compacted.select(max($"batch")).as[Long].head() == 0L)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new File(tmp))
    }
  }

  test("generation-pointer cutover: readers never torn, crash converges, orphans GC'd") {
    val home = Files.createTempDirectory("graft-vecidx-home").toString
    try {
      // init is idempotent and publishes gen-0
      val root0 = VectorIndexStream.IndexHome.init(home)
      assert(root0 == s"$home/gen-0")
      assert(VectorIndexStream.IndexHome.init(home) == root0)
      assert(VectorIndexStream.IndexHome.currentGen(home).contains("gen-0"))

      // two ingest batches into the live root, resolved through the pointer
      VectorIndexStream.applyBatch(
        Seq(vec(100L, 10L, 10L), vec(101L, 990L, 5L)).toDF("id", "qv"),
        cents, root0, 0L)
      VectorIndexStream.applyBatch(
        Seq(vec(102L, 5L, 980L)).toDF("id", "qv"), cents, root0, 1L)
      def readCur() = VectorIndexStream.readIndex(
        spark, VectorIndexStream.IndexHome.resolveRoot(home).get)
        .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
      val before = readCur()
      assert(before == Map(100L -> 0L, 101L -> 1L, 102L -> 2L))

      // crash AFTER the new generation is written, BEFORE the pointer swap:
      // readers still resolve gen-0 with identical content; gen-1 is an
      // invisible orphan
      VectorIndexStream.IndexHome.crashBeforeCutover = true
      intercept[IllegalStateException] {
        VectorIndexStream.IndexHome.compactCutover(spark, home)
      }
      VectorIndexStream.IndexHome.crashBeforeCutover = false
      assert(VectorIndexStream.IndexHome.currentGen(home).contains("gen-0"))
      assert(readCur() == before)
      assert(new File(home, "gen-1").exists(), "orphan generation expected")

      // retry converges: orphan GC'd first, fresh gen-1 written, pointer
      // swapped, superseded gen-0 collected — content identical, compacted
      val root1 = VectorIndexStream.IndexHome.compactCutover(spark, home)
      assert(root1 == s"$home/gen-1")
      assert(VectorIndexStream.IndexHome.currentGen(home).contains("gen-1"))
      assert(!new File(home, "gen-0").exists(), "superseded generation must be GC'd")
      assert(readCur() == before)
      val compacted = VectorIndexStream.readIndex(spark, root1)
      assert(compacted.select(max($"batch")).as[Long].head() == 0L)

      // ingest continues against the NEW resolved root and readers see it
      VectorIndexStream.applyBatch(
        Seq(vec(103L, 995L, 990L)).toDF("id", "qv"),
        cents, VectorIndexStream.IndexHome.resolveRoot(home).get, 2L)
      assert(readCur() == before + (103L -> 3L))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new File(home))
    }
  }
}
