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
}
