package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental maintenance of a cell-partitioned IVF vector index — the
  * streaming companion to the batch build in
  * [[graft.operators.SimilarityIvf]]: embeddings arrive as a stream, each
  * micro-batch assigns its vectors to coarse cells (argmin L2 against
  * BROADCAST centroids — the centroids are the trained quantizer and stay
  * fixed; retraining is a batch job that rebuilds the index) and appends
  * ONLY the touched cell partitions of the parquet index.
  *
  * Layout: one root, partitioned `batch=<id>/cell=<c>` . The batch level is
  * the replay-idempotence device (same contract as [[NearDupStream]]'s
  * per-batch subdirs): a replayed micro-batch DYNAMICALLY OVERWRITES its
  * own batch=<id> partitions instead of appending duplicates. The crash
  * contract rests on REPLAYED BATCH CONTENT BEING DETERMINISTIC (true for
  * replayable sources — Kafka offsets, MemoryStream): same data ⇒ same
  * assigned cells ⇒ the replay rewrites exactly the partitions a crashed
  * attempt may have left partial files in, so orphans cannot survive a
  * replay (spec-pinned with a content-identical crashed-attempt twin). The cell
  * level is what serving prunes on — a cell filter prunes across every
  * batch directory, so the read cost of a probe stays ∝ the probed cells'
  * data no matter how many batches accumulated. (An index compaction —
  * folding batch dirs together — is the same operator as the CDC sinks'
  * compaction and reuses their manifest machinery when atomicity beyond
  * replay idempotence is needed.)
  *
  * Scale shape: the batch side is micro-batch-sized, the assignment is a
  * broadcast join + narrow argmin — the accumulated index is NEVER read,
  * shuffled, or rewritten by ingest; an insert-heavy stream updates hot
  * cells without touching the corpus, and the serving path's pruned read
  * ([[graft.operators.SimilarityIvf.ivfServed]]) picks new vectors up on
  * its next probe of that cell.
  *
  * Reference scope anchor: the reference streams rows into a replica table
  * (`/root/reference/app/consumer/consumer.py:63-75`); this is the same
  * consume-assign-append contract for vector payloads.
  */
object VectorIndexStream {

  /** One micro-batch: assign and write. Batch-callable (the foreachBatch
    * body and the spec's batch dual are this same function). */
  def applyBatch(batch: DataFrame, cents: DataFrame, idxDir: String,
      batchId: Long): Unit = {
    if (!batch.isEmpty) {
      graft.functions.KMeans.assignQuantized(batch, broadcast(cents))
        .select(col("id").as("vec_id"), col("qv"),
          lit(batchId).as("batch"), col("cell"))
        .repartition(col("cell")) // ≤1 file per touched cell per batch
        .write.partitionBy("batch", "cell")
        // dynamic: replaces exactly this batch's partitions on replay,
        // never another batch's
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(idxDir)
    }
  }

  /** Read the maintained index (all batches; serving filters on cell). */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
      idxDir: String): DataFrame =
    spark.read.parquet(idxDir)

  /** Offline compaction: fold every accumulated batch into a single
    * batch=0 generation at `outDir`, one file per cell. Write-to-new-root
    * rather than in-place: compaction is maintenance that runs while no
    * ingest writes (stop the query or point it at the new root after),
    * and a reader holding the OLD root is never torn — the cutover is the
    * caller swapping which root it reads, which on a real deployment is a
    * table-format log or pointer update ([[TableGroup]]'s log entry is
    * the bucketed tables' version of that machinery;
    * [[IndexHome.compactCutover]] performs exactly that pointer swap
    * atomically). */
  def compactTo(spark: org.apache.spark.sql.SparkSession,
      idxDir: String, outDir: String): Unit =
    readIndex(spark, idxDir)
      .select(col("vec_id"), col("qv"), lit(0L).as("batch"), col("cell"))
      .repartition(col("cell")) // ≤1 file per cell, as at ingest
      .write.partitionBy("batch", "cell")
      .mode("overwrite").parquet(outDir)

  /** The streaming wrapper: `vecs` must carry (id, qv). */
  def run(vecs: DataFrame, cents: DataFrame, idxDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    vecs.writeStream
      .queryName("graft-vector-index")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, cents, idxDir, batchId)
      }
      .start()

  /** Generation-pointer root cutover — closes [[compactTo]]'s "the caller
    * swaps which root it reads" seam with the [[TableGroup]] discipline
    * (immutable data, one atomic publication) applied one level up: an
    * index HOME directory holds immutable
    * generation directories `gen-<n>` plus ONE pointer file `_current`
    * naming the live generation. Readers resolve the pointer FIRST and read
    * only that generation; compaction writes the next generation in full,
    * then swaps the pointer with a single filesystem-atomic rename — a
    * reader never sees a torn or half-compacted index, regardless of where
    * the compactor died.
    *
    *  - Crash BEFORE the swap: the new `gen-<n+1>` directory is an orphan
    *    no pointer names — invisible to readers, deleted by the next
    *    [[IndexHome.compactCutover]]'s GC-first pass (which removes every
    *    generation the pointer does not name, converging after any crash).
    *  - Crash AFTER the swap: the commit is complete; the superseded old
    *    generation is the orphan and the same GC pass collects it.
    *
    * 100 TB shape: the pointer is one ~10-byte file read once per serve on
    * the driver; generation data files are immutable so the swap moves no
    * data. On an object store the ATOMIC_MOVE becomes put-if-absent /
    * atomic-rename and the synchronous GC becomes an async vacuum with a
    * retention window so long-running readers holding an old generation
    * don't lose files mid-scan — the Delta/Iceberg snapshot discipline.
    * Single-compactor, like the sinks' single-writer foreachBatch; ingest
    * is stopped (or re-pointed) across a cutover, as [[compactTo]] already
    * requires. */
  object IndexHome {

    val PointerName = "_current"

    /** Test failpoint: when true, [[compactCutover]] throws AFTER the new
      * generation is fully written but BEFORE the pointer swap. */
    private[streaming] var crashBeforeCutover: Boolean = false

    private def pointerFile(home: String) = new java.io.File(home, PointerName)

    /** The live generation's directory name, e.g. `gen-3`. None if the home
      * was never initialized. */
    def currentGen(home: String): Option[String] = {
      val f = pointerFile(home)
      if (!f.exists()) None
      else Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim)
    }

    /** Absolute path of the live generation (what readers and ingest use as
      * their index root). */
    def resolveRoot(home: String): Option[String] =
      currentGen(home).map(g => s"$home/$g")

    // single-compactor last-writer-wins swap, via the same CommitStore
    // seam the table commits publish through (object-store mapping: PUT)
    private def swapPointer(home: String, gen: String): Unit =
      CommitStore.active.atomicSwap(pointerFile(home),
        gen.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    /** Initialize a home (idempotent): publish `gen-0` as the live
      * generation and return its path for ingest to write into. */
    def init(home: String): String = {
      new java.io.File(home).mkdirs()
      resolveRoot(home).getOrElse {
        new java.io.File(home, "gen-0").mkdirs()
        swapPointer(home, "gen-0")
        s"$home/gen-0"
      }
    }

    private def genDirs(home: String): Seq[java.io.File] =
      Option(new java.io.File(home).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("gen-"))

    /** Delete every generation the pointer does NOT name — orphans of
      * crashed cutovers and superseded generations a crashed GC left.
      * `graceMs` keeps non-live generations younger than the window: a
      * reader that resolved the old root just before the swap finishes
      * its scan inside the grace period instead of hitting
      * FILE_NOT_FOUND mid-read (the gcBuckets retention discipline;
      * object-store deployments map this to bucket lifecycle rules). */
    private def gcOrphans(home: String, graceMs: Long = 0L): Unit = {
      val live = currentGen(home)
      val cutoff = System.currentTimeMillis() - graceMs
      genDirs(home).filterNot(d => live.contains(d.getName))
        .filter(d => d.lastModified() <= cutoff)
        .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    }

    /** Compact the live generation into the next one and atomically cut
      * readers over to it. Returns the new live root. `graceMs` > 0
      * retains the superseded generation for in-flight readers. */
    def compactCutover(spark: org.apache.spark.sql.SparkSession,
        home: String, graceMs: Long = 0L): String = {
      gcOrphans(home, graceMs) // converge from any earlier crash before writing
      val cur = currentGen(home).getOrElse(
        throw new IllegalStateException(s"uninitialized index home: $home"))
      val next = "gen-" + (cur.stripPrefix("gen-").toLong + 1L)
      compactTo(spark, s"$home/$cur", s"$home/$next")
      if (crashBeforeCutover)
        throw new IllegalStateException("failpoint: crash before pointer swap")
      swapPointer(home, next)
      gcOrphans(home, graceMs) // the superseded generation, grace-gated
      s"$home/$next"
    }

    /** Compact-and-PROJECT cutover — streaming PCA serving: fold the live
      * generation into the next one with per-vector PCA projections
      * attached, the model fitted from the STREAMED moment state
      * ([[graft.operators.Pca.momentRowsStreamable]]'s complete-mode
      * aggregate — the collected ≤2,145 rows are `momentRows`). This
      * closes the model-staleness gap between batch PCA and the streaming
      * index: every cutover re-projects the whole compacted generation
      * under the model that has seen every ingested vector, atomically —
      * a reader resolves either the old generation (old projections) or
      * the new one (new model applied to every vector), never a mix of
      * vectors projected under different models. Projection is a narrow
      * literal map over the fold (zero extra shuffles vs [[compactTo]]);
      * the eigensolve is the fixed 64×64 driver-side Jacobi. */
    def compactCutoverProjected(spark: org.apache.spark.sql.SparkSession,
        home: String, momentRows: Array[org.apache.spark.sql.Row], k: Int,
        graceMs: Long = 0L): String = {
      gcOrphans(home, graceMs)
      val cur = currentGen(home).getOrElse(
        throw new IllegalStateException(s"uninitialized index home: $home"))
      val next = "gen-" + (cur.stripPrefix("gen-").toLong + 1L)
      val model = graft.operators.Pca.fitFromMoments(momentRows, k)
      readIndex(spark, s"$home/$cur")
        .select(Seq(col("vec_id"), col("qv"), lit(0L).as("batch"),
          col("cell")) ++
          graft.operators.Pca.projectCols(model, col("qv")): _*)
        .repartition(col("cell")) // ≤1 file per cell, as at ingest
        .write.partitionBy("batch", "cell")
        .mode("overwrite").parquet(s"$home/$next")
      if (crashBeforeCutover)
        throw new IllegalStateException("failpoint: crash before pointer swap")
      swapPointer(home, next)
      gcOrphans(home, graceMs)
      s"$home/$next"
    }
  }
}
