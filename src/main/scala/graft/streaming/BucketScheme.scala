package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets

/** On-disk bucket-layout contract for every bucketed table a
  * [[TableGroup]] commits ([[CdcStream.upsertBatchBucketed]],
  * [[Scd2Stream.applyBatchBucketed]], [[DualSink]]).
  *
  * The bucket directory a key lives in is `pmod(<hashFn>(key), nBuckets)`.
  * Changing EITHER the hash function or the bucket count silently changes
  * every key's directory: against a snapshot written under the old scheme,
  * changed-bucket pruning (computed with the new scheme) never reads the
  * key's OLD bucket, so the stale row survives and the key is duplicated
  * across two bucket directories. That failure is silent — merges keep
  * succeeding, reads return duplicates.
  *
  * Guard: every bucketed directory carries a `_bucket_scheme` marker file
  * (leading underscore → invisible to Spark's FileIndex, so it never
  * pollutes reads) recording `<hashFn>/<nBuckets>`. Writers call
  * [[ensure]] before merging: first write stamps the marker; later writes
  * REFUSE on mismatch instead of corrupting the layout. A legacy directory
  * (bucket dirs present, no marker — written before this guard existed)
  * also refuses, because its scheme is unknowable.
  *
  * The current scheme id is [[Murmur3Pmod]] — `pmod(hash(key), n)` where
  * `hash` is Spark's murmur3, the function HashPartitioning evaluates
  * (that equality is what makes partition i == bucket i and ≤1 file per
  * bucket possible). The pre-round-7 layout used `xxhash64`; directories
  * written by it fail [[ensure]] and must be rebuilt (re-run the log, or
  * read-all + rewrite under the new scheme).
  */
object BucketScheme {

  /** Scheme id for `pmod(hash(key), n)` with Spark's murmur3 `hash`. */
  val Murmur3Pmod = "murmur3-pmod"

  /** The key column every bucketed sink hashes ([[graft.cdc.Envelope]]'s
    * key: `coalesce(after.id, before.id)` lands in the snapshot/history
    * as `id`). Stamped into the marker so READERS derive residues from
    * the column the WRITER actually hashed — an option-supplied key that
    * disagrees would silently prune the wrong files. */
  val DefaultKeyCol = "id"

  val MarkerName = "_bucket_scheme"

  /** A directory's stamped bucket layout. `keyCol` is None for legacy
    * (pre-round-15, two-field) markers whose key column was never
    * recorded — key-derived pruning must then be SKIPPED, never guessed
    * (direct `bucket`-column predicates still prune: their residues come
    * from directory values, not the hash). */
  final case class SchemeInfo(hashFn: String, nBuckets: Int,
      keyCol: Option[String])

  private def markerFile(dir: String) = new File(dir, MarkerName)

  private def render(scheme: String, nBuckets: Int, keyCol: String) =
    s"$scheme/$nBuckets/$keyCol\n"

  /** The directory's stamped scheme, for READERS that derive bucket
    * residues from key predicates (the connector's bucket pruning), or
    * None when the directory is unmarked — pruning must then be skipped,
    * never guessed. Reads through the CommitStore seam like [[ensure]]
    * (an object-store marker is not FS-backed). */
  def readScheme(dir: String): Option[SchemeInfo] =
    CommitStore.active.get(markerFile(dir)).flatMap { bytes =>
      new String(bytes, StandardCharsets.UTF_8).trim.split('/') match {
        case Array(scheme, n) =>
          scala.util.Try(SchemeInfo(scheme, n.toInt, None)).toOption
        case Array(scheme, n, key) =>
          scala.util.Try(SchemeInfo(scheme, n.toInt, Some(key))).toOption
        case _ => None
      }
    }

  /** Verify `dir`'s layout matches (`scheme`, `nBuckets`, `keyCol`),
    * stamping the marker on first use. Throws [[IllegalStateException]]
    * on mismatch or on an unmarked legacy layout — refusing is the only
    * safe move; the fix is an explicit rebucket, not a silent
    * mixed-scheme merge. A two-field legacy marker (no key column) is
    * accepted when scheme and count match — every pre-marker-v2 writer
    * hashed the same fixed Envelope key — but is NOT upgraded in place
    * (readers treat its key as unknown and skip key pruning). */
  def ensure(dir: String, scheme: String, nBuckets: Int,
      keyCol: String = DefaultKeyCol): Unit = {
    val d = new File(dir)
    val marker = markerFile(dir)
    val expected = render(scheme, nBuckets, keyCol)
    val legacy = s"$scheme/$nBuckets\n"
    // every marker read goes through the CommitStore seam (not the local
    // FS): with an object-store adapter the marker key is not FS-backed,
    // and a local exists()/read would miss it — the pre-check would
    // re-stamp and the CAS-loss read-back would throw NoSuchFile instead
    // of detecting the race
    val store = CommitStore.active
    store.get(marker) match {
      case Some(bytes) =>
        val actual = new String(bytes, StandardCharsets.UTF_8)
        if (actual != expected && actual != legacy)
          throw new IllegalStateException(
            s"bucket-scheme mismatch at $dir: directory was written with " +
              s"'${actual.trim}' but this writer uses '${expected.trim}'. " +
              "Merging would strand keys in old-scheme buckets (silent " +
              "duplicates). Rebucket the directory (replay the log or " +
              "rewrite all buckets under the new scheme) before writing.")
      case None =>
        val hasBuckets = d.exists() &&
          Option(d.listFiles()).exists(_.exists(_.getName.startsWith("bucket=")))
        if (hasBuckets)
          throw new IllegalStateException(
            s"unmarked bucketed layout at $dir: bucket directories exist but " +
              s"no $MarkerName marker — written by a pre-marker version with " +
              "an unknowable scheme. Rebucket before writing.")
        d.mkdirs()
        // create-if-absent CAS, not last-writer-wins: two concurrent FIRST
        // writers with DIFFERENT schemes would both pass the get() pre-check
        // above, and an atomicSwap would let the second silently overwrite
        // the first — exactly the mixed-scheme layout this guard refuses.
        // The CAS loser re-reads and compares: same scheme converges,
        // different scheme throws.
        val won = store.putIfAbsent(marker,
          expected.getBytes(StandardCharsets.UTF_8))
        if (!won) {
          val actual = new String(store.get(marker).getOrElse(
            throw new IllegalStateException(
              s"bucket-scheme CAS at $dir reported the name taken but the " +
                "marker is unreadable — cannot verify the winning scheme")),
            StandardCharsets.UTF_8)
          if (actual != expected && actual != legacy)
            throw new IllegalStateException(
              s"bucket-scheme race at $dir: a concurrent first writer " +
                s"stamped '${actual.trim}' while this writer uses " +
                s"'${expected.trim}'. Pick one scheme and rebucket.")
        }
    }
  }
}
