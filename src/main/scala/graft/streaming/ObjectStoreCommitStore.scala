package graft.streaming

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Object-store adapter for the [[CommitStore]] seam: the S3-style
  * conditional-PUT protocol as real client code, not prose.
  *
  *  - `putIfAbsent` → `PUT` with `If-None-Match: *`. 2xx = this call
  *    created the object; 412 Precondition Failed = the CAS loss.
  *    (GCS speaks the same shape as `x-goog-if-generation-match: 0`,
  *    Azure as `If-None-Match: *` on Put Blob.)
  *  - `atomicSwap` → a plain `PUT`: object stores replace atomically at
  *    the object level, which is exactly the single-writer
  *    last-writer-wins guarantee the protocols need.
  *
  * Failure semantics — the part a filesystem adapter never has to face:
  * a 5xx or connection loss leaves the request's outcome UNKNOWN (the
  * server may have applied the PUT before the response died). The retry
  * discipline resolves the ambiguity per primitive:
  *
  *  - `atomicSwap` retries blindly: a duplicate plain PUT of the same
  *    bytes is idempotent under the single-writer contract.
  *  - `putIfAbsent` retries, and when a RETRY attempt is told 412 it
  *    reads the object back and compares bytes: equal means the earlier
  *    ambiguous attempt actually landed and this caller WON the CAS —
  *    reporting a loss would wedge the commit protocol (the winner would
  *    conflict against its own entry forever). Byte equality identifies
  *    the winner exactly because commit contents are writer-unique by
  *    construction: every transaction-log entry embeds its writer's
  *    attempt-unique staged part names (job UUIDs — BucketManifest
  *    .stageWrite), so two racers never publish identical bytes. A 412
  *    on the FIRST attempt needs no read-back — nothing of ours can have
  *    landed — it is a clean loss.
  *
  * Proven against the in-process conditional-PUT stub
  * (`ObjectStoreStub`) by `ObjectStoreCommitSpec` (primitive semantics,
  * including apply-then-500) and `TableGroupObjectStoreSpec` (the full
  * TableGroup race/crash matrix re-run through this adapter).
  */
final class ObjectStoreCommitStore(baseUrl: String, maxAttempts: Int = 5)
    extends CommitStore {

  private val client = HttpClient.newHttpClient()

  // the object key IS the target's absolute path (bucket-relative in a
  // real deployment; the protocols only ever compare keys for equality)
  private def uri(target: File): URI =
    URI.create(baseUrl + target.getAbsolutePath)

  private def send(req: HttpRequest): Option[HttpResponse[Array[Byte]]] =
    try Some(client.send(req, HttpResponse.BodyHandlers.ofByteArray()))
    catch {
      case _: java.io.IOException => None // outcome unknown — retryable
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        throw new java.io.IOException("interrupted mid-request", e)
    }

  def putIfAbsent(target: File, content: Array[Byte]): Boolean = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      send(HttpRequest.newBuilder(uri(target))
        .header("If-None-Match", "*")
        .PUT(HttpRequest.BodyPublishers.ofByteArray(content)).build()) match {
        case Some(r) if r.statusCode() == 200 || r.statusCode() == 201 =>
          return true
        case Some(r) if r.statusCode() == 412 =>
          // see class doc: on a retry the existing object may be our own
          // ambiguous earlier attempt — read back and compare
          return attempt > 1 && get(target).exists(
            java.util.Arrays.equals(_, content))
        case Some(r) if r.statusCode() >= 500 => // ambiguous — retry
        case Some(r) => throw new IllegalStateException(
          s"unexpected status ${r.statusCode()} for conditional PUT " +
            uri(target))
        case None => // connection died — retry; 412 path resolves it
      }
    }
    throw new java.io.IOException(
      s"putIfAbsent: $maxAttempts attempts exhausted for ${uri(target)}")
  }

  def atomicSwap(target: File, content: Array[Byte]): Unit = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      send(HttpRequest.newBuilder(uri(target))
        .PUT(HttpRequest.BodyPublishers.ofByteArray(content)).build()) match {
        case Some(r) if r.statusCode() == 200 || r.statusCode() == 201 =>
          return
        case Some(r) if r.statusCode() >= 500 => // idempotent — retry
        case Some(r) => throw new IllegalStateException(
          s"unexpected status ${r.statusCode()} for PUT ${uri(target)}")
        case None =>
      }
    }
    throw new java.io.IOException(
      s"atomicSwap: $maxAttempts attempts exhausted for ${uri(target)}")
  }

  /** Read an object back (the 412 ambiguity resolution). Retries like the
    * writes; exhausting retries throws rather than guessing — misreading
    * "unknown" as "lost" could wedge the caller's commit protocol. */
  def get(target: File): Option[Array[Byte]] = {
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      send(HttpRequest.newBuilder(uri(target)).GET().build()) match {
        case Some(r) if r.statusCode() == 200 => return Some(r.body())
        case Some(r) if r.statusCode() == 404 => return None
        case Some(r) if r.statusCode() >= 500 =>
        case Some(r) => throw new IllegalStateException(
          s"unexpected status ${r.statusCode()} for GET ${uri(target)}")
        case None =>
      }
    }
    throw new java.io.IOException(
      s"get: $maxAttempts attempts exhausted for ${uri(target)}")
  }

  /** Prefix LIST (S3 ListObjectsV2 / GCS objects.list with `/`
    * delimiter), spoken here as `GET <prefix>/?list` returning one bare
    * name per line; 404 = empty prefix. Same retry discipline as
    * [[get]] — a LIST is read-only, so blind retries are safe, and
    * exhausting them throws rather than reporting an empty log (an
    * empty-log guess would make `currentTxn` claim a virgin group). */
  def listKeys(dirPrefix: File): Seq[String] = {
    val listUri = URI.create(
      baseUrl + dirPrefix.getAbsolutePath + "/?list")
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      send(HttpRequest.newBuilder(listUri).GET().build()) match {
        case Some(r) if r.statusCode() == 200 =>
          return new String(r.body(),
            java.nio.charset.StandardCharsets.UTF_8)
            .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
        case Some(r) if r.statusCode() == 404 => return Nil
        case Some(r) if r.statusCode() >= 500 =>
        case Some(r) => throw new IllegalStateException(
          s"unexpected status ${r.statusCode()} for LIST $listUri")
        case None =>
      }
    }
    throw new java.io.IOException(
      s"listKeys: $maxAttempts attempts exhausted for $listUri")
  }
}
