package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` is parsed once, as a positive Int: a bad value fails
  * before any work instead of reaching a master URL or a bench record.
  */
class SessionSpec extends AnyFunSuite {

  test("cpus accepts a positive integer and defaults to the processor count") {
    assert(Session.parseCpus(Some("4")) == 4)
    assert(Session.parseCpus(None) == Runtime.getRuntime.availableProcessors())
  }

  test("cpus rejects a non-integer and a non-positive value, naming it") {
    for (bad <- Seq("four", "0", "-2", "")) {
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(bad)))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
