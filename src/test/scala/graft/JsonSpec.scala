package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  test("jstr escapes control characters, tabs, quotes and backslashes to parseable JSON") {
    val s = "err\u0001 at\tcol \"x\" in C:\\tmp\n"
    val parsed = new ObjectMapper().readValue("\"" + Json.jstr(s) + "\"", classOf[String])
    assert(parsed == s)
  }
}
