package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Registers a spec once per lookup path. Spec tables are small, so a
  * keyed read plans as the driver-local lookup ([[GraftLookupStrategy]]);
  * the `[distributed lookup]` copy turns the strategy off (its row budget
  * seam at 0) and runs the same body, unweakened, through the Spark scan. */
trait BothLookupPaths { this: AnyFunSuite =>
  protected def testBothLookups(name: String)(body: => Unit): Unit = {
    test(name)(body)
    test(s"$name [distributed lookup]") {
      GraftLookupStrategy.rowMax = 0L
      try body
      finally GraftLookupStrategy.rowMax = GraftLookupStrategy.LookupRowMax
    }
  }
}
