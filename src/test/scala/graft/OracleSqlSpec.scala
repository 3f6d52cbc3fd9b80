package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `oracle_sql.json` is read by `tools/compare.py`'s `json.load`: one
  * badly escaped query text fails the whole compare, so every
  * character must survive a JSON parser unchanged. */
class OracleSqlSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val everyAscii = (0 to 0x7f).map(_.toChar).mkString + "é€😀"

  test("every ASCII character and non-ASCII text round-trip through a JSON parser") {
    assert(mapper.readValue(Verify.jsonString(everyAscii), classOf[String]) == everyAscii)
    everyAscii.foreach { c =>
      assert(mapper.readValue(Verify.jsonString(s"a${c}b"), classOf[String]) == s"a${c}b", c.toInt)
    }
  }

  test("the written file parses back to the same name → SQL pairs") {
    val dir = Files.createTempDirectory("oracle_sql")
    val sqls = Seq("q1" -> "SELECT 1", "q\t2" -> everyAscii, "q3" -> "SELECT '\"x\"'\r\n")
    Verify.writeOracleSql(dir.toString, sqls)
    val read = mapper.readTree(dir.resolve("oracle_sql.json").toFile)
    assert(read.size == sqls.size)
    sqls.foreach { case (k, v) => assert(read.get(k).asText == v, k) }
  }
}
