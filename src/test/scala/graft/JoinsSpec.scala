package graft

import graft.util.Joins
import org.scalatest.funsuite.AnyFunSuite

/** The broadcast-gate threshold knob parses defensively: a malformed value
  * falls back to the 1M-row default instead of failing `Joins`'s object
  * initializer. */
class JoinsSpec extends AnyFunSuite {
  test("malformed SPARK_GRAFT_BCAST_MAX_ROWS values select the default") {
    for (raw <- Seq("1e6", "-5", "", "0", "12abc"))
      assert(Joins.maxRowsOf(Some(raw)) == 1000000L, s"'$raw'")
    assert(Joins.maxRowsOf(None) == 1000000L)
  }

  test("a positive integer SPARK_GRAFT_BCAST_MAX_ROWS is taken as is") {
    assert(Joins.maxRowsOf(Some("250000")) == 250000L)
    assert(Joins.maxRowsOf(Some(" 42 ")) == 42L)
  }
}
