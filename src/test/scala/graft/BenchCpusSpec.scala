package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` is parsed once, to a positive Int with one default. */
class BenchCpusSpec extends AnyFunSuite {
  test("unset defaults to 4; a positive integer is taken as is") {
    assert(Bench.cpus(Map.empty) == 4)
    assert(Bench.cpus(Map("SPARK_GRAFT_CPUS" -> "32")) == 32)
    assert(Bench.cpus(Map("SPARK_GRAFT_CPUS" -> " 8 ")) == 8)
  }

  test("anything else fails fast") {
    Seq("*", "four", "0", "-2", "").foreach { v =>
      val e = intercept[IllegalArgumentException](Bench.cpus(Map("SPARK_GRAFT_CPUS" -> v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), v)
    }
  }
}
