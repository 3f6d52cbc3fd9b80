package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CPUS` is parsed once into the `local[N]` width that
  * the bench's one-line JSON reports as a bare number: a value that is
  * not a positive integer must fail naming the variable, never reach
  * the JSON as raw text. `SPARK_GRAFT_SHUFFLE` follows the same rule
  * before any session exists. */
class BenchCpusSpec extends AnyFunSuite {

  private def shuffle(cpus: Int, raw: Option[String]): String =
    GraftSession.settings(cpus, raw).toMap.apply("spark.sql.shuffle.partitions")

  test("unset defaults to 4; numeric values parse, surrounding blanks allowed") {
    assert(GraftSession.cpusOf(None) == 4)
    assert(GraftSession.cpusOf(Some("8")) == 8)
    assert(GraftSession.cpusOf(Some(" 32\n")) == 32)
    // SPARK_GRAFT_SHUFFLE: the worker count when unset
    assert(shuffle(4, None) == "4")
    assert(shuffle(4, Some(" 256\n")) == "256")
  }

  test("a caller's default applies only when unset") {
    // the zarr fuzz runners default to 8
    assert(GraftSession.cpusOf(None, 8) == 8)
    assert(GraftSession.cpusOf(Some("2"), 8) == 2)
  }

  test("non-numeric or non-positive values are refused by name") {
    Seq("", "four", "8c", "2.5", "0", "-3", "8,9", "99999999999").foreach { bad =>
      val e = intercept[IllegalArgumentException](GraftSession.cpusOf(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
      val s = intercept[IllegalArgumentException](shuffle(4, Some(bad)))
      assert(s.getMessage.contains("SPARK_GRAFT_SHUFFLE"), bad)
    }
  }
}
