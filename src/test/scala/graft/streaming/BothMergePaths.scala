package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Registers a spec once per merge path. Spec batches are small, so the
  * default guard ([[BucketedMerge.LocalMergeMax]]) runs the driver-local
  * twin; the `[distributed merge]` copy passes a guard of 0 and runs the
  * same body, unweakened, through the distributed plan and write job. */
trait BothMergePaths { this: AnyFunSuite =>
  protected def testBothPaths(name: String)(body: Long => Unit): Unit = {
    test(name)(body(BucketedMerge.LocalMergeMax))
    test(s"$name [distributed merge]")(body(0L))
  }
}
