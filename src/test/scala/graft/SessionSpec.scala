package graft

import org.scalatest.funsuite.AnyFunSuite

/** The core-count parser behind every session, checked without one. */
class SessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS parser accepts a positive integer") {
    assert(Session.parseCores("8") == 8)
    assert(Session.parseCores(" 32 ") == 32)
  }

  test("SPARK_GRAFT_CPUS parser rejects zero, negative, non-integer and empty values") {
    Seq("0", "-1", "abc", "", "4.5").foreach { raw =>
      val e = intercept[IllegalArgumentException](Session.parseCores(raw))
      assert(e.getMessage.contains(Session.CpusEnv), raw)
      assert(e.getMessage.contains(s"'$raw'"), raw)
    }
  }
}
