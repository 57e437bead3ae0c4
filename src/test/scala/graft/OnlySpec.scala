package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_ONLY` filter of the Verify and Bench mains: blank is
  * unset, and an unknown name stops the run instead of selecting nothing. */
class OnlySpec extends AnyFunSuite {
  private val known = Set("q_a", "q_b", "s_c")

  test("unset, empty or blank selects everything") {
    for (v <- Seq(None, Some(""), Some("  "), Some(" , ,")))
      assert(Only.parse(v, known).isEmpty, v)
  }

  test("names are trimmed and empty entries skipped") {
    assert(Only.parse(Some(" q_a,, s_c ,"), known) == Some(Set("q_a", "s_c")))
  }

  test("an unknown name is an error that names every unknown one") {
    val e = intercept[IllegalArgumentException](
      Only.parse(Some("q_a,q_z,q_y"), known))
    assert(e.getMessage.endsWith("unknown name(s) q_y, q_z"), e.getMessage)
  }

  test("the mains' names: every query, and in Bench every stress cell") {
    assert(Only.parse(Some("q_auc,q_spearman"), SparkEntry.queries.keySet)
      .contains(Set("q_auc", "q_spearman")))
    assert(StressBench.queries.keySet.contains("s_spearman"))
  }
}
