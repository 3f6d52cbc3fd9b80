package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` is parsed once into the `local[N]` width that
  * the bench's one-line JSON reports as a bare number: a value that is
  * not a positive integer must fail naming the variable, never reach
  * the JSON as raw text. */
class BenchCpusSpec extends AnyFunSuite {

  test("unset defaults to 4; numeric values parse, surrounding blanks allowed") {
    assert(Bench.cpusOf(None) == 4)
    assert(Bench.cpusOf(Some("8")) == 8)
    assert(Bench.cpusOf(Some(" 32\n")) == 32)
  }

  test("a caller's default applies only when unset") {
    // the zarr fuzz runners default to 8
    assert(Bench.cpusOf(None, 8) == 8)
    assert(Bench.cpusOf(Some("2"), 8) == 2)
  }

  test("non-numeric or non-positive values are refused by name") {
    Seq("", "four", "8c", "2.5", "0", "-3", "8,9", "99999999999").foreach { bad =>
      val e = intercept[IllegalArgumentException](Bench.cpusOf(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}
