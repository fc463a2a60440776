package graft.streaming

import java.io.File
import java.nio.file.{FileAlreadyExistsException, Files, StandardCopyOption}

/** The two atomic publication primitives every commit protocol in this
  * package rests on, as a swappable adapter — so the object-store mapping
  * the protocol docs claim ([[TableGroup]], [[BucketScheme]], the
  * [[BucketManifest]] sidecars, [[VectorIndexStream.IndexHome]]) is code
  * with a seam, not prose.
  *
  *  - `putIfAbsent` is the compare-and-swap on a NAME: exactly one of any
  *    number of concurrent callers creates the object; the rest learn they
  *    lost. Local FS: scratch write + `link(2)` (atomically fails if the
  *    name exists). S3: conditional `PUT` with `If-None-Match: *` (412 =
  *    lost). GCS: `if-generation-match: 0`. HDFS:
  *    `create(overwrite = false)`. Azure: `If-None-Match: *` on Put Blob.
  *  - `atomicSwap` is last-writer-wins replacement under a SINGLE-writer
  *    contract: readers observe the old content or the new, never a torn
  *    mix. Local FS: scratch write + `rename(2)` (`ATOMIC_MOVE` +
  *    `REPLACE_EXISTING`). S3/GCS/Azure: a plain `PUT` — object stores
  *    replace atomically at the object level, which is exactly the
  *    guarantee used here.
  *
  * Both primitives require the CONTENT to be fully durable before the name
  * becomes visible — the local impl gets that from write-then-link/rename;
  * object stores give it inherently (a PUT is all-or-nothing).
  *
  * The active store is process-global ([[CommitStore.active]]): the commit
  * protocols are driver-side (manifests and pointers are written by the
  * driver, never inside tasks), so one adapter per process is the right
  * granularity. Specs inject failpoint adapters through [[CommitStore.with_]]
  * to exercise the crash windows against the SAME code paths production
  * runs. */
trait CommitStore {

  /** Atomically create `target` holding `content` iff nothing exists under
    * that name. Returns true when THIS call created it; false when the
    * name was already taken (the CAS loss — never throws for that case). */
  def putIfAbsent(target: File, content: Array[Byte]): Boolean

  /** Atomically replace `target` with `content` (single-writer
    * last-writer-wins; readers see old or new, never torn). */
  def atomicSwap(target: File, content: Array[Byte]): Unit

  /** Read `target`'s full content, or None when no object exists under
    * that name. The read half of the seam: callers that pre-check or
    * re-read after a CAS loss must go through THIS (not the local
    * filesystem) so the check observes the same namespace the write went
    * to — with an object-store adapter the key is not FS-backed and a
    * local read would see nothing. Object stores: a GET (404 → None);
    * local FS: read-if-exists. */
  def get(target: File): Option[Array[Byte]]

  /** Names of the objects directly under `dirPrefix` (empty when none) —
    * the discovery half of the seam: the transaction log's entry
    * enumeration (and through it `SHOW TABLES`, `currentTxn`, vacuum)
    * must observe the same namespace the CAS writes went to. Object
    * stores: LIST with the prefix + `/` delimiter (S3 ListObjectsV2,
    * GCS objects.list) — eventual consistency is NOT a concern for the
    * protocols here since S3/GCS list-after-put has been strongly
    * consistent since 2020; local FS: a directory listing of regular
    * files. Returned names are bare (no prefix), unordered; callers
    * filter and sort. */
  def listKeys(dirPrefix: File): Seq[String]
}

/** POSIX-filesystem adapter — the default. Scratch files live next to the
  * target (same directory ⇒ same filesystem ⇒ link/rename stay atomic).
  * putIfAbsent scratch names are attempt-unique (`.tmp-<uuid>` — concurrent
  * racers must never share a scratch); a crash between scratch write and
  * link leaves a `.tmp-` orphan that [[TableGroup]]'s log GC reaps after
  * its grace window. atomicSwap's scratch is a fixed `.tmp` (single-writer
  * contract), self-healing by overwrite. */
object LocalFsCommitStore extends CommitStore {

  def putIfAbsent(target: File, content: Array[Byte]): Boolean = {
    val dir = target.getParentFile
    dir.mkdirs()
    val tmp = new File(dir,
      s".${target.getName}.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp.toPath, content)
    try { Files.createLink(target.toPath, tmp.toPath); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp.toPath)
  }

  def atomicSwap(target: File, content: Array[Byte]): Unit = {
    val dir = target.getParentFile
    dir.mkdirs()
    val tmp = new File(dir, s".${target.getName}.tmp")
    Files.write(tmp.toPath, content)
    Files.move(tmp.toPath, target.toPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def get(target: File): Option[Array[Byte]] =
    if (target.exists()) Some(Files.readAllBytes(target.toPath)) else None

  def listKeys(dirPrefix: File): Seq[String] =
    Option(dirPrefix.listFiles()).toSeq.flatten
      .filter(_.isFile).map(_.getName).toSeq
}

object CommitStore {

  /** The process-wide adapter every commit path publishes through. */
  @volatile private[graft] var active: CommitStore = LocalFsCommitStore

  /** Run `body` with `store` installed (test injection; restores the
    * previous adapter even on failure). Serial use only — the specs run
    * their failpoint scenarios one at a time. */
  private[streaming] def with_[A](store: CommitStore)(body: => A): A = {
    val prev = active
    active = store
    try body finally active = prev
  }
}
