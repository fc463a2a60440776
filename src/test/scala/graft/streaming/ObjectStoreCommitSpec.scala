package graft.streaming

import graft.SparkSpec
import java.io.File
import java.nio.file.Files

/** Primitive-level contract of [[ObjectStoreCommitStore]] against the
  * in-process conditional-PUT stub — the object-store failure modes a
  * filesystem adapter never exercises: a clean 500, and the ambiguous
  * apply-then-500 whose retry must resolve "did my write land?" without
  * either wedging the caller or stealing a racer's win. */
class ObjectStoreCommitSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private var stub: ObjectStoreStub = _
  private var store: ObjectStoreCommitStore = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    stub = new ObjectStoreStub
    store = new ObjectStoreCommitStore(stub.baseUrl)
  }

  override def afterAll(): Unit = {
    stub.stop()
    super.afterAll()
  }

  private def tmpTarget(name: String): File = {
    val dir = Files.createTempDirectory("graft-objstore").toFile
    new File(dir, name)
  }

  test("conditional PUT: first writer creates, second learns it lost") {
    val t = tmpTarget("key.json")
    assert(store.putIfAbsent(t, "alpha".getBytes))
    assert(!store.putIfAbsent(t, "beta".getBytes))
    assert(new String(Files.readAllBytes(t.toPath)) == "alpha")
  }

  test("plain PUT replaces last-writer-wins") {
    val t = tmpTarget("ptr")
    store.atomicSwap(t, "v1".getBytes)
    store.atomicSwap(t, "v2".getBytes)
    assert(new String(Files.readAllBytes(t.toPath)) == "v2")
  }

  test("clean 500 (not applied) is retried transparently") {
    val t = tmpTarget("retry.json")
    stub.failNextPutsBeforeApply.set(2)
    assert(store.putIfAbsent(t, "landed".getBytes))
    assert(new String(Files.readAllBytes(t.toPath)) == "landed")
    stub.failNextPutsBeforeApply.set(1)
    store.atomicSwap(t, "swapped".getBytes)
    assert(new String(Files.readAllBytes(t.toPath)) == "swapped")
  }

  test("apply-then-500: the retry sees 412 for its OWN landed write and reports the WIN") {
    // the scenario the verdict names: the PUT landed but the response was
    // a 500 — a naive client would retry, get 412, and report a CAS loss
    // for a write it owns, wedging the commit protocol
    val t = tmpTarget("ambiguous.json")
    stub.failNextPutsAfterApply.set(1)
    assert(store.putIfAbsent(t, "mine".getBytes),
      "a landed-but-500'd conditional PUT must resolve to a WIN")
    assert(new String(Files.readAllBytes(t.toPath)) == "mine")
  }

  test("apply-then-500 with a racer: the retry's 412 correctly reports the LOSS") {
    // inverse case: our first attempt fails CLEAN (nothing landed), a
    // racer then takes the key, and our retry's 412 + read-back compare
    // must NOT claim the racer's differing bytes as ours
    val t = tmpTarget("raced.json")
    stub.failNextPutsBeforeApply.set(1)
    val winner = new Thread(() => {
      // wait until our client's first attempt has consumed the clean-500
      while (stub.failNextPutsBeforeApply.get() > 0) Thread.sleep(1)
      LocalFsCommitStore.putIfAbsent(t, "theirs".getBytes)
      ()
    })
    winner.start()
    val got = store.putIfAbsent(t, "ours".getBytes)
    winner.join()
    // whichever attempt ordering the race produced, the verdict must match
    // the bytes on disk
    val content = new String(Files.readAllBytes(t.toPath))
    assert(got == (content == "ours"),
      s"verdict $got inconsistent with stored content '$content'")
  }

  test("apply-then-500 on a plain PUT is retried idempotently") {
    val t = tmpTarget("swap-ambiguous")
    stub.failNextPutsAfterApply.set(1)
    store.atomicSwap(t, "final".getBytes) // lands, 500s, retries, lands again
    assert(new String(Files.readAllBytes(t.toPath)) == "final")
  }

  test("retries exhausted surfaces as an IOException, never a silent verdict") {
    val t = tmpTarget("down.json")
    stub.failNextPutsBeforeApply.set(100)
    try {
      intercept[java.io.IOException] { store.putIfAbsent(t, "x".getBytes) }
      intercept[java.io.IOException] { store.atomicSwap(t, "x".getBytes) }
    } finally stub.failNextPutsBeforeApply.set(0)
  }

  test("concurrent conditional PUTs through the stub admit exactly one winner") {
    (1 to 5).foreach { i =>
      val t = tmpTarget(s"race-$i.json")
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val threads = (0 until 4).map { w =>
        new Thread(() => {
          results.add(store.putIfAbsent(t, s"writer-$w".getBytes))
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      assert(results.asScala.count(identity) == 1,
        s"exactly one of 4 racers must win: ${results.asScala.toSeq}")
    }
  }
}

/** The FULL [[TableGroupSpec]] race/crash matrix re-run with every
  * publish routed through [[ObjectStoreCommitStore]] → the HTTP
  * conditional-PUT stub: CAS races, mid-PUT crashes, replay convergence,
  * orphan GC, retention, thread-level contention — all against
  * object-store semantics instead of link(2)/rename(2). */
class TableGroupObjectStoreSpec extends TableGroupSpec
    with org.scalatest.BeforeAndAfterAll {

  private var stub: ObjectStoreStub = _
  private var store: ObjectStoreCommitStore = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    stub = new ObjectStoreStub
    store = new ObjectStoreCommitStore(stub.baseUrl)
  }

  override def afterAll(): Unit = {
    stub.stop()
    super.afterAll()
  }

  override protected def baseStore: CommitStore = store
}

/** [[ManifestCommitSpec]]'s one-table crash/replay contract re-run with
  * every publish routed through [[ObjectStoreCommitStore]] → the HTTP
  * conditional-PUT stub: the single-table sinks' log entries, scheme
  * markers and sidecars all go through its conditional PUT, GET and
  * LIST, as the pair sink's do in [[TableGroupObjectStoreSpec]]. */
class ManifestCommitObjectStoreSpec extends ManifestCommitSpec
    with org.scalatest.BeforeAndAfterAll {

  private var stub: ObjectStoreStub = _
  private var store: ObjectStoreCommitStore = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    stub = new ObjectStoreStub
    store = new ObjectStoreCommitStore(stub.baseUrl)
  }

  override def afterAll(): Unit = {
    stub.stop()
    super.afterAll()
  }

  override protected def baseStore: CommitStore = store
}
