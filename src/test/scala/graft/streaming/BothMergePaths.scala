package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Registers a spec once per merge path. Spec batches are small, so the
  * default guard ([[BucketedMerge.LocalMergeMax]]) runs the driver-local
  * twin; the `[distributed merge]` copy sets the guard seam
  * ([[BucketedMerge.localMax]]) to 0 and runs the same body, unweakened,
  * through the distributed plan and write job. */
trait BothMergePaths { this: AnyFunSuite =>
  protected def testBothPaths(name: String)(body: => Unit): Unit = {
    test(name)(body)
    test(s"$name [distributed merge]") {
      BucketedMerge.localMax = 0L
      try body
      finally BucketedMerge.localMax = BucketedMerge.LocalMergeMax
    }
  }
}
