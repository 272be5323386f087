package graft

import org.scalatest.funsuite.AnyFunSuite

/** The launcher's cores policy: the machine's count by default, the
  * `SPARK_GRAFT_CPUS` override when set, and a loud failure naming the
  * variable when the override is not a positive integer. */
class LaunchSpec extends AnyFunSuite {

  test("cores defaults to the processors this JVM may run on") {
    assert(Launch.cores(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(Launch.cores(Map("OTHER" -> "7")) ==
      Runtime.getRuntime.availableProcessors)
  }

  test("SPARK_GRAFT_CPUS overrides the machine's count") {
    assert(Launch.cores(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
  }

  test("a malformed SPARK_GRAFT_CPUS is rejected, naming the variable") {
    Seq("0", "-1", "abc", "", "2.5").foreach { raw =>
      val e = intercept[IllegalArgumentException](
        Launch.cores(Map("SPARK_GRAFT_CPUS" -> raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), raw)
      assert(e.getMessage.contains(s"'$raw'"), raw)
    }
  }
}
