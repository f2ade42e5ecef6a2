package graft

import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset defaults to 4, a positive integer is taken") {
    assert(Session.parseCpus(None) == 4)
    assert(Session.parseCpus(Some("8")) == 8)
  }

  test("SPARK_GRAFT_CPUS: zero, negative and non-integer values fail naming the variable") {
    for (bad <- Seq("0", "-2", "x")) {
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
