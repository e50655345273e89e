package graft

import org.scalatest.funsuite.AnyFunSuite

class EnvSpec extends AnyFunSuite {

  test("a bad SPARK_GRAFT_* value fails with the variable's name and value") {
    assert(Env.parseLong("SPARK_GRAFT_X", "131072") == 131072L)
    assert(Env.parseLong("SPARK_GRAFT_X", "0") == 0L)
    assert(Env.long("SPARK_GRAFT_UNSET_FOR_TEST", 42L) == 42L)
    for (bad <- Seq("12k", "", "1.5", "-1", "99999999999999999999")) {
      val e = intercept[IllegalArgumentException] {
        Env.parseLong("SPARK_GRAFT_X", bad)
      }
      assert(e.getMessage.contains("SPARK_GRAFT_X"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_CPUS must be a positive whole number, named in the error") {
    assert(Env.parseCpus("8") == 8)
    assert(Env.parseCpus("1") == 1)
    for (bad <- Seq("abc", "", "0", "-4", "2.5", "99999999999")) {
      val e = intercept[IllegalArgumentException](Env.parseCpus(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_ONLY splits on commas and drops blanks") {
    assert(Env.parseNames(" q1_pricing_summary, a1_composite_agg ,,") ==
      Set("q1_pricing_summary", "a1_composite_agg"))
    assert(Env.parseNames("").isEmpty)
  }

  test("unknown SPARK_GRAFT_ONLY names fail the selection up front") {
    val e = intercept[IllegalArgumentException](
      Verify.select(Set("q1_pricing_summary", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"), e.getMessage)
    assert(Verify.select(Set("q1_pricing_summary")).map(_.name) ==
      Seq("q1_pricing_summary"))
    assert(Verify.select(Set.empty).size == SparkEntry.queries.size)
  }
}
